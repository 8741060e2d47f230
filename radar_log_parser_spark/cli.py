"""spark-submit entry point (north rule: `spark-submit --py-files`).

    zip -r pkg.zip radar_log_parser_spark
    spark-submit --py-files pkg.zip -m radar_log_parser_spark.cli ...  # or
    spark-submit --py-files pkg.zip cli.py \
        --config fixtures/config.yaml --vocab fixtures/vocab.json \
        --input /data/logs.parquet --work-dir /data/work \
        --sinks-dir /data/sinks [--master local[32]]

Runs the checkpointed pipeline (resume is automatic: stages whose lineage
fingerprint matches are read, not recomputed). With --sinks-dir the seven
sink stages are checkpointed in place as <sinks-dir>/<sink>/, each with its
`_lineage.json`, so they resume like the other stages; `parsed` and
`scoped` stay under --work-dir. The eighth sink, `match_sets`, is not a
stage: it is read from the `other_routed` sink and written there on every
run.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="radar-log-parser-spark")
    ap.add_argument("--config", required=True, help="YAML config (the query)")
    ap.add_argument("--vocab", required=True, help="vocab.json (token codec)")
    ap.add_argument("--input", required=True, help="input table path (parquet dir)")
    ap.add_argument("--work-dir", required=True, help="checkpoint dir")
    ap.add_argument("--sinks-dir", default=None, help="write final sinks here")
    ap.add_argument("--master", default=None)
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    args = ap.parse_args(argv)

    from radar_log_parser_spark.codec import Vocab
    from radar_log_parser_spark.config import load_config
    from radar_log_parser_spark.plans.pipeline import Pipeline
    from radar_log_parser_spark.session import get_spark

    cfg = load_config(args.config)  # fail fast on bad patterns (quirk Q11 inverted)
    vocab = Vocab.load(args.vocab)
    spark = get_spark(app="radar-log-parser-spark", master=args.master)

    t0 = time.monotonic()
    pipe = Pipeline(
        spark,
        cfg,
        vocab,
        args.input,
        work_dir=args.work_dir,
        checkpoint=True,
        fmt=args.format,
        sinks_dir=args.sinks_dir,
    )
    res = pipe.run()
    if args.sinks_dir:
        res.sinks["match_sets"].write.mode("overwrite").parquet(f"{args.sinks_dir}/match_sets")
    report = {
        "wall_s": round(time.monotonic() - t0, 2),
        "codegen_compiles": pipe.codegen_compiles,
        "stages": [
            {"stage": m.stage, "rows": m.rows, "files": m.files,
             "resumed": m.resumed, "wall_s": round(m.wall_s, 2)}
            for m in res.metrics
        ],
    }
    print(json.dumps(report))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
