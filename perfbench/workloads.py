"""The benchmark workloads. Each is a closed loop with one client: the next
operation starts when the previous one returns. `op` times one operation,
then checks its outputs outside the timed window; `layers` turns the last
traced operation into the per-layer metrics.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from perfbench import gate, inputs
from perfbench.spans import COUNTERS, GROUPS

# cli.py --sinks-dir writes these, in this order
SINKS = ("specific_issues", "other_routed", "grouped_routed", "events",
         "severity", "grouped_issues", "match_sets", "summary")
STAGE_LAYER = {
    "parsed": "parse_arrow",
    "events": "routing", "severity": "routing", "specific_issues": "routing",
    "scoped": "routing", "other_routed": "routing", "grouped_routed": "routing",
    "summary": "aggregates", "grouped_issues": "aggregates",
}
ROUTED = ("events", "severity", "specific_issues", "other_routed", "grouped_routed")
# the keys Pipeline.timings records in checkpoint mode
PHASES = ("parse_materialize", "kept", "plan_build", "fanout_jobs")
KERNEL_ROWS = 10_000


def query_modules() -> dict[str, str]:
    """Headline query → the operator module that implements it."""
    from bench import HEADLINERS
    from radar_log_parser_spark.operators import dedup, llmprep, logquery, media, similarity, textops

    mod = {}
    for m in (logquery, dedup, similarity, textops, llmprep, media):
        mod.update({s.name: m.__name__.rsplit(".", 1)[1] for s in m.SPECS})
    return {q: mod[q] for q in HEADLINERS}


def per_layer_names() -> list[str]:
    names = ["parse_arrow.kernel_rows_per_s", "parse_arrow.stage_run_s",
             "parse_arrow.boundary_s", "parse_arrow.match_ratio", "parse_arrow.wall_share"]
    names += [f"pipeline.{p}_s" for p in PHASES] + ["pipeline.overlap_ratio"]
    for s in ROUTED:
        names += [f"routing.{s}_s", f"routing.{s}_rows"]
    names += ["aggregates.summary_s", "aggregates.grouped_issues_s",
              "aggregates.match_sets_s", "aggregates.summary_rows", "aggregates.wall_share"]
    names += ["checkpointer.write_s", "checkpointer.bytes_written", "checkpointer.files",
              "checkpointer.resume_hit_ratio", "checkpointer.restart_wall_s"]
    mods = query_modules()
    names += [f"{m}.{q}_s" for q, m in mods.items()]
    names += [f"{m}.total_s" for m in dict.fromkeys(mods.values())]
    names += [f"spark.{g}.{c}" for g in GROUPS for c in COUNTERS]
    names += ["harness.op_wall_s", "harness.trace_overhead_s", "harness.wall_s"]
    return names


def _span(tracer, name: str, groups: tuple[str, ...] = ()):
    return nullcontext({}) if tracer is None else tracer.span(name, groups)


def _stat(stat_path: str) -> tuple[str, list[str]]:
    """A /proc stat file → (command name, the fields after it)."""
    with open(stat_path) as f:
        stat = f.read()
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every live
    descendant (the driver JVM, its Python workers), each with the children
    it has reaped, less the JVM's JIT compiler threads. Time the hypervisor
    steals from the host's vCPUs is not charged to a process, so this holds
    still where wall time does not; JIT work is left out because the JVM is
    still warming up over the timed operations, and how far it has got
    varies from run to run."""
    parent, ticks = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            _comm, fields = _stat(f"/proc/{d}/stat")
        except OSError:  # exited while listed
            continue
        parent[int(d)] = int(fields[1])
        ticks[int(d)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    me, total = os.getpid(), 0
    for pid, t in ticks.items():
        p = pid
        while p not in (0, me):
            p = parent.get(p, 0)
        if p != me:
            continue
        total += t
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                comm, fields = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if comm.startswith(("C1 CompilerThre", "C2 CompilerThre")):
                total -= int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _d, fs in os.walk(path) for f in fs)


class Workload:
    """Shared loop state: samples per timed quantity, mismatches, counts."""

    name = ""
    op_s = 1

    def __init__(self, work: str, seed: int):
        self.work = work
        self.seed = seed
        self.samples: dict[str, list[float]] = {}
        self.wrong: list[str] = []
        self.attempted = 0
        self.failed = 0

    def attempt(self, tracer=None, record: bool = True, warm: bool = False) -> dict | None:
        """One operation; a raise counts as failed and the loop goes on.
        `warm` marks the set-up operation."""
        self.attempted += 1
        # the previous operation's garbage and dirty pages are cleared
        # outside the timed window, so no operation pays for its predecessor
        gc.collect()
        self.spark._jvm.java.lang.System.gc()
        os.sync()
        try:
            times = self.op(tracer, warm)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if record:
            for k, v in times.items():
                self.samples.setdefault(k, []).append(v)
        return times

    def median(self, key: str) -> float:
        return statistics.median(self.samples[key])


class PipelineCheckpointed(Workload):
    """Fresh `Pipeline(checkpoint=True)` run with cli-style sink writes. The
    traced operation adds a restart from the `parsed` checkpoint with every
    later stage deleted; the timed ones leave it out to fit the run budget."""

    name = "pipeline_checkpointed"
    op_s = 10  # nominal warm operation on a 4-core host
    ROWS = 20_000

    def prepare(self) -> None:
        self.fx = inputs.log_fixture(os.path.join(self.work, "inputs"), self.ROWS, self.seed)
        ref = inputs.load_reference(self.fx)
        self.ref, self.rows = ref["sources"], ref["rows"]
        self.logs = os.path.join(self.fx, "logs.parquet")

    def setup(self, spark) -> None:
        from radar_log_parser_spark.codec import Vocab
        from radar_log_parser_spark.config import load_config

        self.spark = spark
        self.cfg = load_config(os.path.join(self.fx, "config.yaml"))
        self.vocab = Vocab.load(os.path.join(self.fx, "vocab.json"))
        self.ckpt_dir = os.path.join(self.work, "ckpt")

    def _run(self, label: str, tracer) -> tuple:
        """One pipeline run plus the sink writes. Only the fresh run's spans
        count towards the `spark.<group>` totals."""
        from radar_log_parser_spark.plans.pipeline import Pipeline

        def groups(*g: str) -> tuple[str, ...]:
            return g if label == "fresh" else ()

        work = os.path.join(self.ckpt_dir, "work")
        sinks = os.path.join(self.ckpt_dir, f"sinks_{label}")
        pipe = Pipeline(self.spark, self.cfg, self.vocab, self.logs, work_dir=work, checkpoint=True)
        if tracer is not None:
            write = pipe.ckpt.write

            def traced_write(stage, df, fingerprint, parents, buckets=32):
                layer = STAGE_LAYER[stage]
                with tracer.span(f"{label}:{layer}.{stage}", groups(layer, "checkpointer")):
                    return write(stage, df, fingerprint, parents, buckets=buckets)

            pipe.ckpt.write = traced_write
        with _span(tracer, f"{label}:pipeline.run"):
            res = pipe.run()
        with _span(tracer, f"{label}:sinks"):
            for name in SINKS:
                # every sink but match_sets is a copy of a checkpointed stage
                layer = groups("aggregates") if name == "match_sets" else ()
                with _span(tracer, f"{label}:sink.{name}", layer):
                    res.sinks[name].write.mode("overwrite").parquet(os.path.join(sinks, name))
        return pipe, res, sinks

    def op(self, tracer=None, warm: bool = False) -> dict:
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)
        c0, t0 = tree_cpu_s(), time.monotonic()
        pipe, res, fresh = self._run("fresh", tracer)
        times = {"wall_s": time.monotonic() - t0, "cpu_s": tree_cpu_s() - c0}
        self.last = (pipe, res, None)
        self.wrong += gate.check_sinks(fresh, self.ref)
        if tracer is None:
            return times
        work = pipe.ckpt.work_dir
        self.bytes_written = _dir_bytes(work)
        for stage in os.listdir(work):
            if stage != "parsed":
                shutil.rmtree(os.path.join(work, stage))
        t1 = time.monotonic()
        _pipe2, res2, restart = self._run("restart", tracer)
        times["restart_wall_s"] = time.monotonic() - t1
        self.last = (pipe, res, res2)
        self.wrong += gate.check_sinks(restart, self.ref)
        return times

    def detail(self) -> dict:
        pipe, res, res2 = self.last
        stages = [
            {"stage": m.stage, "rows": m.rows, "files": m.files, "wall_s": m.wall_s, "resumed": m.resumed}
            for m in res.metrics + (res2.metrics if res2 else [])
        ]
        return {"timings": pipe.timings, "stage_metrics": stages}

    def kernel_rows_per_s(self) -> float:
        """`match_batch_arrow` in this process, one thread, over the first
        KERNEL_ROWS rows of the fixture in part order."""
        from radar_log_parser_spark.functions.parse_arrow import match_batch_arrow

        tables, n = [], 0
        for part in sorted(os.listdir(self.logs)):
            if n >= KERNEL_ROWS:
                break
            tables.append(pq.read_table(os.path.join(self.logs, part)))
            n += tables[-1].num_rows
        sample = pa.concat_tables(tables).slice(0, KERNEL_ROWS)
        batches = sample.to_batches(max_chunksize=20_000)  # session's maxRecordsPerBatch
        vocab_pa = pa.array(self.vocab.id_to_token, pa.string())
        threads = pa.cpu_count()
        pa.set_cpu_count(1)
        try:
            for b in batches:  # compiles the patterns once
                match_batch_arrow(b, self.cfg, vocab_pa)
            rates = []
            for _ in range(5):
                s = time.perf_counter()
                for b in batches:
                    match_batch_arrow(b, self.cfg, vocab_pa)
                rates.append(sample.num_rows / (time.perf_counter() - s))
        finally:
            pa.set_cpu_count(threads)
        return statistics.median(rates)

    def match_ratio(self) -> float:
        t = pq.read_table(os.path.join(self.last[0].ckpt.work_dir, "parsed"))
        hit = np.zeros(t.num_rows, dtype=bool)
        for c in t.column_names:
            if c == "procs" or c.startswith(("ngrp__", "grp__")):
                hit |= pc.fill_null(pc.list_value_length(t[c]), 0).to_numpy() > 0
        return float(hit.mean())

    def layers(self, tracer, untraced_wall: float) -> dict[str, float]:
        from radar_log_parser_spark.functions.parse import parse_stage

        pipe, res, res2 = self.last
        m: dict[str, float] = {}
        rate = self.kernel_rows_per_s()
        with tracer.span("parse_arrow.probe") as probe:
            parse_stage(self.spark.read.parquet(self.logs), self.cfg, self.vocab) \
                .write.format("noop").mode("overwrite").save()
        m["parse_arrow.kernel_rows_per_s"] = rate
        m["parse_arrow.stage_run_s"] = probe["spark"]["run_s"]
        m["parse_arrow.boundary_s"] = probe["spark"]["run_s"] - self.rows / rate
        m["parse_arrow.match_ratio"] = self.match_ratio()
        op_wall = self.samples_traced["wall_s"]
        m["parse_arrow.wall_share"] = tracer.duration("fresh:parse_arrow.parsed") / op_wall
        for p in PHASES:
            m[f"pipeline.{p}_s"] = pipe.timings.get(p, 0.0)
        # checkpoint mode gets no job_factory: nothing fans out, so
        # fanout_jobs only repeats plan_build and there is no overlap to
        # measure; both read 0, as for a layer the workload does not run
        m["pipeline.fanout_jobs_s"] = m["pipeline.overlap_ratio"] = 0.0
        rows = {x.stage: x.rows for x in res.metrics}
        for s in ROUTED:
            m[f"routing.{s}_s"] = tracer.duration(f"fresh:routing.{s}")
            m[f"routing.{s}_rows"] = rows[s]
        m["aggregates.summary_s"] = tracer.duration("fresh:aggregates.summary")
        m["aggregates.grouped_issues_s"] = tracer.duration("fresh:aggregates.grouped_issues")
        m["aggregates.match_sets_s"] = tracer.duration("fresh:sink.match_sets")
        m["aggregates.summary_rows"] = rows["summary"]
        m["aggregates.wall_share"] = sum(
            m[f"aggregates.{a}_s"] for a in ("summary", "grouped_issues", "match_sets")
        ) / op_wall
        m["checkpointer.write_s"] = sum(x.wall_s for x in res.metrics)
        m["checkpointer.bytes_written"] = self.bytes_written
        m["checkpointer.files"] = sum(x.files for x in res.metrics)
        m["checkpointer.resume_hit_ratio"] = sum(x.resumed for x in res2.metrics) / len(res2.metrics)
        m["checkpointer.restart_wall_s"] = self.samples_traced["restart_wall_s"]
        m["harness.op_wall_s"] = op_wall
        m["harness.trace_overhead_s"] = op_wall - untraced_wall
        return m


class OperatorQueries(Workload):
    """One pass over the 30 `bench.py` headline queries in a warm session."""

    name = "operator_queries"
    op_s = 20  # nominal warm pass on a 4-core host

    def prepare(self) -> None:
        import __spark_entry__ as entry
        from bench import HEADLINERS

        self.queries = {q: entry.queries()[q] for q in HEADLINERS}
        self.modules = query_modules()
        self.sf = inputs.query_tables(
            os.path.join(self.work, "inputs"), self.seed, list(self.queries), entry.oracle_sql()
        )
        ref = inputs.load_reference(self.sf)
        self.ref, self.rows = ref["queries"], ref["rows"]
        self.unchecked = sorted(set(self.queries) - set(self.ref))

    def setup(self, spark) -> None:
        self.spark = spark

    def op(self, tracer=None, warm: bool = False) -> dict:
        """Timed passes run the queries one at a time. The set-up pass runs
        them on one thread per core: a query's first run is mostly
        driver-side planning, code generation and JIT work, which the
        threads overlap. Run one at a time, the set-up pass makes a run of
        this workload about 80 s instead of about 60 s."""

        def one(q: str) -> tuple:
            s = time.monotonic()
            with _span(tracer, f"{self.modules[q]}.{q}", ("queries",)):
                df = self.queries[q](self.spark, self.sf)
                return df.columns, df.collect(), time.monotonic() - s

        c0, t0 = tree_cpu_s(), time.monotonic()
        with ThreadPoolExecutor(len(os.sched_getaffinity(0)) if warm else 1) as pool:
            done = dict(zip(self.queries, pool.map(one, self.queries)))
        wall = time.monotonic() - t0
        cpu = tree_cpu_s() - c0
        self.per_query = {q: dt for q, (_c, _r, dt) in done.items()}
        for q, (cols, rows, _dt) in done.items():
            self.wrong += gate.check_query(q, cols, rows, self.ref.get(q))
        return {"wall_s": wall, "cpu_s": cpu}

    def detail(self) -> dict:
        return {"unchecked": self.unchecked, "query_s": self.per_query}

    def layers(self, tracer, untraced_wall: float) -> dict[str, float]:
        m: dict[str, float] = {}
        for q, mod in self.modules.items():
            m[f"{mod}.{q}_s"] = tracer.duration(f"{mod}.{q}")
            m[f"{mod}.total_s"] = m.get(f"{mod}.total_s", 0.0) + m[f"{mod}.{q}_s"]
        m["harness.op_wall_s"] = self.samples_traced["wall_s"]
        m["harness.trace_overhead_s"] = m["harness.op_wall_s"] - untraced_wall
        return m


WORKLOADS = {w.name: w for w in (PipelineCheckpointed, OperatorQueries)}
