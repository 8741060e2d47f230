#!/usr/bin/env python
"""Bench harness. Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Default: runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus the end-to-end log
pipeline (parse→route→aggregate, the north-rule metric in sequences/sec)
over a deterministic scaled tokenized-logs fixture cached under
.bench_cache/.

--pipeline-only: the end-to-end leg alone, in this process.

The N vs 4N-core scaling campaign (`--scaling`) lives in git history at
commit 811a626; tools/scaling_report.py turns its logs into
BENCH/BASELINE.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

REPO = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(REPO, ".bench_cache")

# headliners: every operator family, excluding the O(n²) exact-pair
# correctness baselines (their scale path — LSH — is benched instead)
HEADLINERS = [
    "specific_process", "nongrouped_count", "grouped_tuples", "first_last",
    "field_content", "severity_enrich", "important_events", "line_range",
    "context_segments", "window_rollup", "priority_summary",
    "dedup_exact", "dedup_minhash_lsh", "dedup_minhash_lsh_md5",
    "dedup_simhash", "dedup_simhash_md5",
    "dedup_embedding_lsh", "dedup_cluster", "ann_topk_cosine", "ann_ivf_topk",
    "lang_id", "quality_score", "token_count", "doc_fingerprint", "media_meta",
    "pack_sequences", "contamination_check", "stratified_sample",
    "pii_redact", "repetition_score",
]


HEADLINE_REPEATS = 3


def _micro_calib() -> dict[str, float]:
    """Fixed-work host probe (~0.5 s clean): wall seconds for (a) a pure-CPU
    md5 burn over in-cache buffers, (b) a DRAM-bandwidth memcpy of 48 MB
    (>> LLC) ×4. Deterministic work, variable wall — on a clean host both
    values are near-constant run-to-run; CPU steal inflates them in direct
    proportion, making stolen windows identifiable next to each query's
    timings (VERDICT r4 #1)."""
    import hashlib

    import numpy as np

    t0 = time.monotonic()
    h = hashlib.md5()
    for _ in range(150_000):
        h.update(b"x" * 1000)
    cpu_s = time.monotonic() - t0
    a = np.empty(48 * 1024 * 1024, dtype=np.uint8)
    a[:] = 7
    t0 = time.monotonic()
    for _ in range(4):
        a = a.copy()
    mem_s = time.monotonic() - t0
    return {"cpu_s": round(cpu_s, 4), "mem_s": round(mem_s, 4)}


def _sf_of(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return -1.0


def _pipeline_fixture(sf: float, n_rows: int | None = None) -> tuple[str, int]:
    from radar_log_parser_spark.sources.fixtures import (
        BENCH_CONFIG_YAML,
        write_scaled_fixture,
    )

    n_rows = n_rows or max(200_000, int(20_000_000 * max(sf, 0.001)))
    out = os.path.join(CACHE, f"logs_{n_rows}_v2")  # v2: 256-file layout
    marker = os.path.join(out, "_COMPLETE")
    if not os.path.exists(marker):
        write_scaled_fixture(out, n_rows=n_rows, pool_rows=20_000, seed=3)
        with open(marker, "w") as f:
            f.write(str(n_rows))
    # the bench runs the production-sized pattern catalog (the logs are
    # config-independent, so this is written outside the cache guard)
    with open(os.path.join(out, "bench_config.yaml"), "w") as f:
        f.write(BENCH_CONFIG_YAML)
    return out, n_rows


def run_pipeline_bench(
    sf_dir: str,
    cpus: int,
    n_rows: int | None = None,
    repeats: int = 2,
) -> dict:
    """The cli's pipeline run measured in a clean JVM: warm (sampled parse)
    → untimed dry run → `repeats` timed runs, report the MINIMUM (the
    sandbox VM shows multi-× CPU-steal noise; min is the standard
    noise-robust estimator for throughput). Each run is what `cli.py
    --sinks-dir` does: the checkpointed `Pipeline` with its sink stages in
    the sinks dir, plus the `match_sets` write. Every run starts from an
    empty work dir and sinks dir; a reused one would resume every stage."""
    from radar_log_parser_spark.codec import Vocab
    from radar_log_parser_spark.config import load_config
    from radar_log_parser_spark.functions.parse import parse_stage
    from radar_log_parser_spark.plans.pipeline import Pipeline
    from radar_log_parser_spark.session import get_spark

    sf = _sf_of(sf_dir)
    fx_dir, n_rows = _pipeline_fixture(sf, n_rows=n_rows)
    spark = get_spark(
        app="bench-pipeline",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # no UI listener: AppStatusListener bookkeeping is driver-serial
            # overhead a headless bench run never reads
            "spark.ui.enabled": "false",
            # one file per input split: the fixture's part files are ~0.5 MB
            # compressed (tokens compress hard) but decode to ~50× that; the
            # default 64m/4m packing would fuse them into a handful of
            # splits and cap parallelism below the core count. At 100 TB,
            # splits >> cores holds with the production 128m default.
            "spark.sql.files.maxPartitionBytes": "4m",
            "spark.sql.files.openCostInBytes": "4m",
        },
    )
    cfg = load_config(os.path.join(fx_dir, "bench_config.yaml"))
    vocab = Vocab.load(os.path.join(fx_dir, "vocab.json"))
    logs = os.path.join(fx_dir, "logs.parquet")
    parse_stage(
        spark.read.parquet(logs).sample(0.05, seed=1), cfg, vocab
    ).write.format("noop").mode("overwrite").save()
    run_dir = os.path.join(CACHE, "pipeline_run")
    sinks = os.path.join(run_dir, "sinks")

    def once() -> tuple[float, dict]:
        # flush pending Python-side garbage OUTSIDE the timed window: the
        # previous run's thousands of py4j-backed Column/DataFrame objects
        # otherwise get collected mid-run, and every free is a py4j
        # round-trip — measured as multi-second stalls landing in whatever
        # phase is active when gc triggers
        import gc

        shutil.rmtree(run_dir, ignore_errors=True)
        gc.collect()
        t0 = time.monotonic()
        pipe = Pipeline(
            spark, cfg, vocab, logs,
            work_dir=os.path.join(run_dir, "work"), checkpoint=True, sinks_dir=sinks,
        )
        res = pipe.run()
        res.sinks["match_sets"].write.mode("overwrite").parquet(os.path.join(sinks, "match_sets"))
        return time.monotonic() - t0, pipe.timings

    try:
        once()  # dry (JIT/codegen)
        runs, phases = zip(*(once() for _ in range(repeats)))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    dt = min(runs)
    spark.stop()
    return {
        "pipeline_rows": n_rows,
        "pipeline_seconds": round(dt, 3),
        "pipeline_rows_per_sec": round(n_rows / dt, 1),
        "pipeline_runs_sec": [round(r, 3) for r in runs],
        "pipeline_spread_sec": round(max(runs) - min(runs), 3),
        # Pipeline.timings of each timed run, in run order
        "pipeline_phases": list(phases),
        "cpus": cpus,
    }


def run_bench(sf_dir: str, cpus: int) -> dict:
    from radar_log_parser_spark.codec import Vocab
    from radar_log_parser_spark.config import load_config
    from radar_log_parser_spark.session import get_spark

    import __spark_entry__ as entry

    sf = _sf_of(sf_dir)
    fx_dir, n_rows = _pipeline_fixture(sf)

    spark = get_spark(
        app="bench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )

    # warm executors + python workers: a sampled parse touches every
    # partition (a limit() would warm only ONE worker)
    cfg = load_config(os.path.join(fx_dir, "bench_config.yaml"))
    vocab = Vocab.load(os.path.join(fx_dir, "vocab.json"))
    logs = os.path.join(fx_dir, "logs.parquet")
    from radar_log_parser_spark.functions.parse import parse_stage

    warm = spark.read.parquet(logs).sample(0.05, seed=1)
    parse_stage(warm, cfg, vocab).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    runs_all: dict[str, list[float]] = {}
    calibs: dict[str, dict[str, float]] = {}
    build_s: dict[str, float] = {}
    build_jobs: dict[str, int] = {}

    # --- headline operator queries at the sf dir ---------------------------
    # warm once + time ≥3 with spread PER QUERY (VERDICT r4 #1: a single
    # timed run on this VM can inflate 5-25× under CPU steal — min-of-3 is
    # the same estimator the e2e leg uses). A fixed-work CPU + memcpy
    # micro-calibration runs immediately before each query so steal windows
    # are identifiable in the JSON (inflated calib wall == stolen window).
    # The plan build (the `fn(spark, sf_dir)` call, before any action) is
    # also timed on its own, with the Spark jobs it starts counted under a
    # job group: a build that collects or infers a schema runs jobs.
    queries = entry.queries()
    sc = spark.sparkContext
    for name in HEADLINERS:
        fn = queries[name]
        calibs[name] = _micro_calib()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        runs, builds, jobs = [], [], []
        for r in range(HEADLINE_REPEATS):
            group = f"build-{name}-{r}"
            sc.setJobGroup(group, group)
            t0 = time.monotonic()
            df = fn(spark, sf_dir)
            builds.append(time.monotonic() - t0)
            sc.setLocalProperty("spark.jobGroup.id", None)
            df.write.format("noop").mode("overwrite").save()
            runs.append(round(time.monotonic() - t0, 3))
            jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
        timings[name] = min(runs)
        spreads[name] = round(max(runs) - min(runs), 3)
        runs_all[name] = runs
        build_s[name] = round(min(builds), 3)
        build_jobs[name] = max(jobs)
    spark.stop()

    # --- north-rule metric: end-to-end parse→route→aggregate, measured in
    # a CLEAN JVM (subprocess) so headliner heap state can't pollute it ----
    # ≥3 timed repeats with the spread reported: min-of-2 proved an
    # unstable estimator on this drifting VM (r3: runs [54.6, 41.5])
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--pipeline-only",
         "--cpus", str(cpus), "--sf-dir", sf_dir, "--repeats", "3"],
        stdout=subprocess.PIPE, text=True, check=True, cwd=REPO,
    )
    pipe = json.loads(out.stdout.strip().splitlines()[-1])
    timings["log_pipeline_e2e"] = pipe["pipeline_seconds"]

    total = round(sum(timings.values()), 3)
    return {
        "metric": "end-to-end wall: log pipeline (parse->route->aggregate) + headline operator queries",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # evidence keys (VERDICT r4 #1): per-query min-of-3 estimator
        # detail — all raw runs, spread = max-min, and the fixed-work
        # CPU/memcpy calibration wall measured immediately before each
        # query (a clean host holds these near-constant; an inflated value
        # marks a CPU-steal window contaminating that query's runs)
        "queries_runs": runs_all,
        "queries_spread": spreads,
        "queries_calib": calibs,
        # per query: the plan build alone (min over the timed repeats) and
        # the Spark jobs one build starts (max over the timed repeats)
        "queries_build": build_s,
        "queries_build_jobs": build_jobs,
        "headline_repeats": HEADLINE_REPEATS,
        "sf": sf,
        "cpus": cpus,
        **pipe,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8)))
    ap.add_argument("--pipeline-only", action="store_true")
    ap.add_argument("--rows", type=int, default=None)
    ap.add_argument("--repeats", type=int, default=2)
    args = ap.parse_args()
    if args.pipeline_only:
        print(json.dumps(run_pipeline_bench(
            args.sf_dir, args.cpus, args.rows, args.repeats)))
    else:
        print(json.dumps(run_bench(args.sf_dir, args.cpus)))


if __name__ == "__main__":
    main()
