"""The stage graph: read → parse → route → aggregate, with per-stage
checkpoints, lineage + metrics, and resumable restart.

Each checkpointed stage writes
    <work_dir>/<stage>/            parquet data (+ _SUCCESS from Spark)
    <work_dir>/<stage>/_lineage.json
with a content fingerprint chaining (code fingerprint, config hash, vocab
hash, input path, input fingerprint, stage name, parent names). The code
fingerprint hashes the package's own sources and the pyspark and pyarrow
versions, so an upgrade recomputes every stage. On restart, a stage whose
lineage fingerprint matches is READ instead of recomputed — killing the job
after stage k and rerunning reproduces byte-identical final sinks without
redoing stages ≤ k (north-rule resumability requirement). The manifest also
records the stage's schema, so every read-back is a plain scan that runs no
Spark job. Given a sinks dir, the sink stages are checkpointed as
<sinks_dir>/<sink>/ instead: each sink is written once, with its lineage.

Storage format is switchable: parquet (default, always available) or
Iceberg (same layout via a catalog table; requires the iceberg-spark
runtime jar — absent in this sandbox, so it is feature-gated, not assumed).

Partitioning at scale:
  - `parsed` and routed row-level checkpoints are hash-partitioned on
    doc_id, so every row of one doc_id lands in one file and every per-doc
    operation is co-located, uniform regardless of source skew.
  - sinks clustered by a low-cardinality key (source) hash on
    (source, pmod(xxhash64(doc_id), SALT_MOD)): the salt spreads one hot
    source over up to SALT_MOD partitions, so it cannot serialize the write
    (salted repartition; AQE skew handling covers the joins).
  - Neither shuffle fixes a partition count. AQE sizes each one from the
    stage's bytes (spark.sql.shuffle.partitions is the upper bound and
    advisoryPartitionSizeInBytes the target), so a small stage writes a few
    files instead of one near-empty file per bucket, and a large one still
    fans out. The hash keys alone carry the co-location guarantees.
    Iceberg mode keeps the explicit `bucket(N, doc_id)` partition spec.
"""

from __future__ import annotations

import functools
import hashlib
import importlib.resources
import json
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from radar_log_parser_spark.codec import Vocab
from radar_log_parser_spark.config import ConfigSpec
from radar_log_parser_spark.functions.parse import parse_stage
from radar_log_parser_spark.operators import aggregates as agg
from radar_log_parser_spark.operators import routing
from radar_log_parser_spark.session import (
    _fingerprint,
    codegen_compiles,
    local_frame,
    read_parquet_and_fingerprint,
)

SALT_MOD = 16


def salted_repartition(df: DataFrame, key: str) -> DataFrame:
    """Repartition by (key, salt) for LOW-CARDINALITY keys (source/process):
    plain repartition(key) sends a hot source's entire shard to ONE task —
    at 10^12 rows a 90%-hot source serializes the write. The salt (a stable
    hash of doc_id mod SALT_MOD) fans each key over up to SALT_MOD tasks
    while keeping rows of one (key, salt) cell co-located, so per-source
    consumers still prune. (North rule: 'salted repartition for
    source-skewed shards'.) The partition count is left to AQE, which
    coalesces it to the data size."""
    return df.repartition(F.col(key), F.pmod(F.xxhash64("doc_id"), F.lit(SALT_MOD)))


def _py_sources(root, prefix: str = ""):
    """`<relative path>\x00<source>` of every `.py` under a `Traversable`."""
    for child in root.iterdir():
        if child.is_dir():
            yield from _py_sources(child, f"{prefix}{child.name}/")
        elif child.name.endswith(".py"):
            yield f"{prefix}{child.name}\x00{child.read_text()}"


@functools.cache
def code_fingerprint() -> str:
    """The code every stage's output depends on, hashed once per process on
    the driver: the package's own sources, read through its module loader
    (so a package imported from a `--py-files` zip hashes the same), and the
    pyspark and pyarrow versions (RE2 ships inside pyarrow). Any edit to the
    package recomputes every stage."""
    import pyarrow
    import pyspark

    pkg = importlib.resources.files("radar_log_parser_spark")
    return _fingerprint(*sorted(_py_sources(pkg)), pyspark.__version__, pyarrow.__version__)


def _config_hash(cfg: ConfigSpec) -> str:
    return _fingerprint(repr(cfg))


@dataclass
class StageMetrics:
    stage: str
    fingerprint: str
    rows: int = -1
    files: int = 0
    per_file_rows: dict[str, int] = field(default_factory=dict)
    wall_s: float = 0.0
    resumed: bool = False


class Checkpointer:
    """Parquet-or-Iceberg stage storage with lineage manifests.

    fmt="iceberg" writes each stage as an Iceberg table via
    ``writeTo(...).using("iceberg")``, partitioned ``bucket(N, doc_id)``
    when the stage carries doc_id (the north rule's explicit bucketing),
    under a hadoop-type catalog rooted at the work dir. The iceberg-spark
    runtime jar is a plain maven artifact absent from this sandbox
    (verified: no network, no jar on the classpath), so construction fails
    FAST without it — the parquet path is the explicit fallback, never a
    silent substitution.

    sinks_dir puts the sink stages (`Pipeline.ROW_SINKS + AGG_SINKS`) at
    <sinks_dir>/<sink>/ in place of <work_dir>/<sink>/; the other stages
    stay under the work dir. Iceberg's sinks are the catalog's tables, so
    it takes no sinks dir."""

    CATALOG = "rlps_ckpt"

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        fmt: str = "parquet",
        sinks_dir: str | None = None,
    ):
        if fmt == "iceberg" and sinks_dir is not None:
            raise ValueError("iceberg sinks are the catalog's tables; sinks_dir needs fmt='parquet'")
        self.spark = spark
        self.work_dir = work_dir
        self.sinks_dir = sinks_dir
        # recorded in every `_lineage.json`; `Pipeline` sets it to its
        # input's content fingerprint
        self.input_fp = ""
        if fmt == "iceberg" and not self._iceberg_available():
            raise RuntimeError(
                "iceberg requested but iceberg-spark runtime not on the "
                "classpath; use fmt='parquet'"
            )
        self.fmt = fmt
        os.makedirs(work_dir, exist_ok=True)
        if fmt == "iceberg":
            self._configure_catalog()

    def _iceberg_available(self) -> bool:
        try:
            self.spark._jvm.java.lang.Class.forName(  # noqa: SLF001
                "org.apache.iceberg.spark.SparkCatalog"
            )
            return True
        except Exception:
            return False

    def _configure_catalog(self) -> None:
        c = f"spark.sql.catalog.{self.CATALOG}"
        self.spark.conf.set(c, "org.apache.iceberg.spark.SparkCatalog")
        self.spark.conf.set(f"{c}.type", "hadoop")
        self.spark.conf.set(f"{c}.warehouse", self.work_dir)

    def _table(self, stage: str) -> str:
        return f"{self.CATALOG}.stages.{stage}"

    def path(self, stage: str) -> str:
        if self.fmt == "iceberg":
            return os.path.join(self.work_dir, "stages", stage)
        if self.sinks_dir is not None and stage in Pipeline.ROW_SINKS + Pipeline.AGG_SINKS:
            return os.path.join(self.sinks_dir, stage)
        return os.path.join(self.work_dir, stage)

    def _lineage_path(self, stage: str) -> str:
        return os.path.join(self.path(stage), "_lineage.json")

    def is_complete(self, stage: str, fingerprint: str) -> bool:
        lp = self._lineage_path(stage)
        if not os.path.exists(lp):
            return False
        if self.fmt == "parquet" and not os.path.exists(
            os.path.join(self.path(stage), "_SUCCESS")
        ):
            return False
        try:
            with open(lp) as f:
                manifest = json.load(f)
            return manifest.get("fingerprint") == fingerprint
        except (OSError, json.JSONDecodeError):
            return False

    def read(self, stage: str) -> DataFrame:
        """The stage's table; parquet takes its schema from `_lineage.json`,
        so the read runs no schema-inference job."""
        if self.fmt == "iceberg":
            return self.spark.read.table(self._table(stage))
        with open(self._lineage_path(stage)) as f:
            schema = StructType.fromJson(json.load(f)["schema"])
        return self.spark.read.schema(schema).parquet(self.path(stage))

    def _write_data(self, stage: str, df: DataFrame, buckets: int) -> None:
        if self.fmt == "iceberg":
            w = df.writeTo(self._table(stage)).using("iceberg")
            if "doc_id" in df.columns:
                # Iceberg-native bucketing replaces the manual repartition
                # (the hidden-partitioning equivalent of bucket(N, doc_id))
                w = w.partitionedBy(F.bucket(buckets, F.col("doc_id")))
            w.createOrReplace()
        else:
            df.write.mode("overwrite").parquet(self.path(stage))

    def write(
        self,
        stage: str,
        df: DataFrame,
        fingerprint: str,
        parents: list[str],
        buckets: int = 32,
    ) -> StageMetrics:
        t0 = time.monotonic()
        out = self.path(stage)
        self._write_data(stage, df, buckets)
        metrics = StageMetrics(stage=stage, fingerprint=fingerprint)
        metrics.wall_s = time.monotonic() - t0
        total = 0
        if self.fmt == "iceberg":
            # per-partition lineage from the CURRENT snapshot's `.files`
            # metadata table — walking the data dir would also count data
            # files kept on disk by superseded snapshots (createOrReplace
            # retains history), overcounting after any stage re-write
            for r in (
                self.spark.read.table(f"{self._table(stage)}.files")
                .select("file_path", "record_count")
                .collect()
            ):
                rel = os.path.relpath(r["file_path"].removeprefix("file:"), out)
                metrics.per_file_rows[rel] = int(r["record_count"])
                total += int(r["record_count"])
        else:
            # parquet: row counts straight from the footers
            import pyarrow.parquet as pq

            for root, _dirs, names in os.walk(out):
                for name in sorted(names):
                    if not name.endswith(".parquet"):
                        continue
                    n = pq.ParquetFile(os.path.join(root, name)).metadata.num_rows
                    metrics.per_file_rows[os.path.relpath(os.path.join(root, name), out)] = n
                    total += n
        metrics.rows = total
        metrics.files = len(metrics.per_file_rows)
        os.makedirs(out, exist_ok=True)
        with open(self._lineage_path(stage), "w") as f:
            json.dump(
                {
                    "stage": stage,
                    "fingerprint": fingerprint,
                    "parents": parents,
                    "input_fingerprint": self.input_fp,
                    "code_fingerprint": code_fingerprint(),
                    "format": self.fmt,
                    "rows": metrics.rows,
                    "files": metrics.files,
                    "per_file_rows": metrics.per_file_rows,
                    "wall_s": round(metrics.wall_s, 3),
                    "schema": df.schema.jsonValue(),
                },
                f,
                indent=1,
            )
        return metrics


@dataclass
class PipelineResult:
    sinks: dict[str, DataFrame]
    metrics: list[StageMetrics]


class Pipeline:
    """Compile the config into the full dataflow and run it. Every stage is
    checkpointed under work_dir with its lineage, and a rerun reads each
    stage whose fingerprint still matches instead of recomputing it
    (production mode, north rule).

    checkpoint=True is the only mode. The parameter stays because existing
    callers pass it (the benchmark harness among them); checkpoint=False
    raises ValueError instead of being silently ignored.

    sinks_dir checkpoints the sink stages there, see `Checkpointer`.
    """

    ROW_SINKS = ("specific_issues", "other_routed", "grouped_routed", "events", "severity")
    AGG_SINKS = ("grouped_issues", "summary")

    def __init__(
        self,
        spark: SparkSession,
        cfg: ConfigSpec,
        vocab: Vocab,
        input_path: str,
        work_dir: str,
        checkpoint: bool = True,
        fmt: str = "parquet",
        sinks_dir: str | None = None,
    ):
        if not checkpoint:
            raise ValueError("the pipeline always checkpoints its stages; pass checkpoint=True")
        self.spark = spark
        self.cfg = cfg
        self.vocab = vocab
        self.ckpt = Checkpointer(spark, work_dir, fmt, sinks_dir)
        # N of Iceberg's bucket(N, doc_id) partition spec; parquet stage
        # writes take their partition count from AQE (module docstring)
        self.buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
        # vocab CONTENT hash: a changed vocab of identical size must
        # invalidate every checkpoint (decoded text changes everywhere)
        vocab_fp = hashlib.sha256(
            "\x00".join(vocab.id_to_token).encode()
        ).hexdigest()[:16]
        # input CONTENT fingerprint: a new file at the same input path must
        # invalidate every checkpoint. The one listing of the input serves
        # both the fingerprint and the schema-cached read `run` parses.
        self._raw, self.input_fp = read_parquet_and_fingerprint(spark, input_path)
        self.ckpt.input_fp = self.input_fp
        self._root_fp = _fingerprint(
            code_fingerprint(),
            _config_hash(cfg),
            vocab_fp,
            input_path,
            self.input_fp,
        )
        self.metrics: list[StageMetrics] = []

    # -- stage runner -------------------------------------------------------
    def _stage(
        self,
        name: str,
        build,
        parents: list[str],
        bucket_by: str | None = None,
        salted_by: str | None = None,
    ) -> DataFrame:
        """bucket_by: high-cardinality cluster key (doc_id), hash-partitioned
        so that each key's rows share one file — the parquet counterpart of
        Iceberg's bucket(N, doc_id), which Iceberg mode declares in the
        table spec instead.
        salted_by: LOW-cardinality cluster key (source) — salted so a hot
        source cannot serialize the stage write (see salted_repartition).
        Neither fixes a partition count: AQE coalesces the shuffle to the
        stage's size, so a small stage writes a few files, not N."""
        fp = _fingerprint(self._root_fp, name, *parents)
        if self.ckpt.is_complete(name, fp):
            m = StageMetrics(stage=name, fingerprint=fp, resumed=True)
            self.metrics.append(m)
            return self.ckpt.read(name)
        df = build()
        if salted_by is not None:
            df = salted_repartition(df, salted_by)
        elif bucket_by is not None and self.ckpt.fmt != "iceberg":
            df = df.repartition(F.col(bucket_by))
        m = self.ckpt.write(name, df, fp, parents, buckets=self.buckets)
        self.metrics.append(m)
        return self.ckpt.read(name)

    # -- the graph ----------------------------------------------------------
    def run(self) -> PipelineResult:
        """Run (or resume) every stage in dependency order: parse, the
        parsed-only sinks, the keep-set routing, then the aggregates. Each
        stage is written before the next one starts, and each later stage
        reads its parents back from their checkpoints. Returns the eight
        sinks: the seven sink stages plus `match_sets`, which is a lazy
        frame over the `other_routed` checkpoint that the caller writes.

        `timings` records, in seconds: `parse_materialize` (the parsed
        stage), `kept` (the keep-set collect; absent when every stage that
        needs it resumed) and `plan_build` (every stage after `parsed`)."""
        spark = self.spark
        cfg = self.cfg
        self.timings: dict[str, float] = {}
        compiles0 = codegen_compiles(spark)
        t0 = time.monotonic()

        parsed = self._stage(
            "parsed",
            lambda: parse_stage(self._raw, cfg, self.vocab),
            parents=["input"],
            bucket_by="doc_id",
        )
        self.timings["parse_materialize"] = round(time.monotonic() - t0, 2)
        t_build = time.monotonic()

        events = self._stage(
            "events", lambda: routing.events_sink(parsed), parents=["parsed"]
        )
        severity = self._stage(
            "severity",
            lambda: routing.severity_sink(parsed),
            parents=["parsed"],
            salted_by="source",
        )

        # the Q1 keep-set is config-sized: collect it ONCE and re-plan it as
        # a literal frame, so the N broadcast-join consumers below don't each
        # schedule their own keep-set job over the parsed frame. A local
        # frame, not createDataFrame: its broadcast is built on the driver,
        # with no job and no Python worker round trip per consumer. LAZY +
        # memoized: on a fully-checkpointed resume no stage build runs, so
        # the keep-set scan must not be scheduled at all (ADVICE r2).
        _kept_memo: list = []

        def kept() -> DataFrame:
            if not _kept_memo:
                s = time.monotonic()
                kept_src = routing.kept_processes(parsed)
                _kept_memo.append(
                    local_frame(spark, kept_src.collect(), kept_src.schema)
                )
                self.timings["kept"] = round(time.monotonic() - s, 2)
            return _kept_memo[0]

        ipmap = routing.issue_process_map(spark, cfg)

        specific = self._stage(
            "specific_issues",
            lambda: routing.specific_issues(parsed, kept()),
            parents=["parsed"],
            # row sinks are consumed per-source (the reference's per-report
            # views) → cluster by source, salted against hot sources
            salted_by="source",
        )
        scope = self._stage(
            "scoped",
            lambda: routing.scoped_direct(parsed, kept(), ipmap),
            parents=["parsed"],
            bucket_by="doc_id",
        )
        other = self._stage(
            "other_routed",
            lambda: routing.other_routed(scope),
            parents=["scoped"],
            bucket_by="doc_id",
        )
        grouped = self._stage(
            "grouped_routed",
            lambda: routing.grouped_routed(scope, cfg),
            parents=["scoped"],
            bucket_by="doc_id",
        )

        # Distributed summary (A8): its counts and first/last selections
        # are one-level aggregations over the routed checkpoints, its field
        # contents a two-level aggregation over the `scoped` checkpoint's
        # hits; column pruning keeps each scan to the columns it
        # aggregates. Both left-join the static (source × issue) base and
        # are formatted JVM-side, so nothing driver-side scales with the
        # corpus. The source dimension comes from the raw parquet scan,
        # which reads the dictionary-encoded source column alone (parse
        # preserves source 1:1, so the sets are equal).
        summary = self._stage(
            "summary",
            lambda: agg.summary_frame(
                spark, cfg, self._raw.select("source").distinct(), scope, other, grouped
            ),
            parents=["scoped", "other_routed", "grouped_routed"],
        ).orderBy("source", F.desc("priority"), F.asc("issue"))

        # the counts over the routed rows read the routed checkpoints they
        # count; the scans keep only the aggregation keys
        grouped_issues = self._stage(
            "grouped_issues",
            lambda: agg.grouped_counts(grouped),
            parents=["grouped_routed"],
        )
        match_sets = agg.other_issue_match_sets(other)
        self.timings["plan_build"] = round(time.monotonic() - t_build, 2)
        # classes compiled while the run's jobs ran: 0 when the driver has
        # already run the same plans (see session.get_spark's codegen cache)
        self.codegen_compiles = codegen_compiles(spark) - compiles0

        sinks = {
            "specific_issues": specific,
            "other_routed": other,
            "grouped_routed": grouped,
            "events": events,
            "severity": severity,
            "grouped_issues": grouped_issues,
            "match_sets": match_sets,
            "summary": summary,
        }
        return PipelineResult(sinks=sinks, metrics=self.metrics)
