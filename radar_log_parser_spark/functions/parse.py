"""Stage 1 — decode + match-all-patterns in ONE vectorized Arrow pass.

This is THE core performance idea (SURVEY.md §4): the reference rescans the
full log once per configured pattern (reference: analyzeLog.go:136,
details.go:173, mitigated only by goroutines); we evaluate the entire
compiled config against each Arrow batch in a single pass, so the 100 TB
input is read and decoded exactly once, embarrassingly parallel, no shuffle.

Everything downstream of this stage is pure DataFrame API (joins, groupBys,
min_by/max_by) — no per-row Python (BASELINE.json input_hint).

The pass is a mapInArrow over RE2 C++ kernels, with Python only on hit rows
(functions/parse_arrow.py). RE2 is the reference's Go regexp engine, so
dialect parity is exact.

Output schema: one constant for every config (functions/schema.py) —
  procs/events        matching pattern names per line       (F1, F9)
  sev_levels/counts   per-line severity matches             (F8)
  ngrp__hits          per issue: all match substrings       (F3)
  grp__hits           per issue: first-match capture groups (F4)
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame

from radar_log_parser_spark.codec import Vocab
from radar_log_parser_spark.config import ConfigSpec
from radar_log_parser_spark.functions.parse_arrow import match_batch_arrow
from radar_log_parser_spark.functions.schema import parsed_schema


def parse_stage(df: DataFrame, cfg: ConfigSpec, vocab: Vocab) -> DataFrame:
    """input table (doc_id, tokens, n_tok, source) → parsed_schema().

    The vocabulary ships to executors once as a Spark broadcast
    (SURVEY.md §7: decode must not join against a vocab table).
    """
    vocab_b = df.sparkSession.sparkContext.broadcast(list(vocab.id_to_token))

    def run_arrow(batches):
        varr = pa.array(vocab_b.value, pa.string())
        for batch in batches:
            if batch.num_rows:
                yield match_batch_arrow(batch, cfg, varr)

    return df.mapInArrow(run_arrow, schema=parsed_schema())
