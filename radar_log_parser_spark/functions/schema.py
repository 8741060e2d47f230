"""Parsed-stage schema, derived from the config at plan-compile time.

The schema is config-static (SURVEY.md §1.3): one flat array column per
issue instead of a map column — map columns cost ~3× in columnar cache /
parquet encode and defeat column pruning, while per-issue columns let every
downstream consumer read only what it needs.

  ngrp__<issue>  array<string>   all match substrings on the line (F3)
  grp__<issue>   array<string>   first-match capture groups g1..gN (F4)
  sev_levels / sev_counts        parallel arrays (F8; one entry per level
                                 that matched — extract-mode platforms emit
                                 at most one)
  fld_hits       list<struct<k,n,j>>
                                 per-line field-pattern hits (A4/F5): one
                                 entry per summary pair k (the pair's
                                 position in config.summary_pairs) with
                                 n > 0 hits on the line, in k order;
                                 j = the hits joined "\n" in scan order.
                                 Extracted AT PARSE TIME (r5): the summary
                                 previously re-ran every field regex per
                                 scoped SUBJECT row inside the fan-out
                                 window — the worst-scaling, most DRAM-
                                 exposed stage — and a line under two kept
                                 processes was extracted once per copy.
                                 Line-grain extraction in the embarrassingly-
                                 parallel parse pass runs each regex ONCE
                                 per line and ships only the (sparse) hits
                                 downstream. The pair index is data, so
                                 the schema does not grow with the number
                                 of pairs.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

from radar_log_parser_spark.config import ConfigSpec


def ngrp_issue_names(cfg: ConfigSpec) -> list[str]:
    return sorted(n for n, s in cfg.issues.items() if not s.grouped and s.regex)


def grp_issue_names(cfg: ConfigSpec) -> list[str]:
    return sorted(n for n, s in cfg.issues.items() if s.grouped and s.grouping)


def ngrp_col(name: str) -> str:
    return f"ngrp__{name}"


def grp_col(name: str) -> str:
    return f"grp__{name}"


# struct<k,n,j>: one entry of `fld_hits`, the line's hits of pair k
# (module docstring)
HIT_TYPE = pa.struct([
    pa.field("k", pa.int32(), False),
    pa.field("n", pa.int32(), False),
    pa.field("j", pa.string(), False),
])


def parsed_arrow_schema(cfg: ConfigSpec) -> pa.Schema:
    """The parsed stage's one schema declaration: the Arrow batches the
    parse kernel returns, and (through `parsed_schema`) the Spark schema
    that `mapInArrow` declares for them."""
    strings = pa.list_(pa.string())
    fields = [
        ("doc_id", pa.string()),
        ("source", pa.string()),
        ("line_no", pa.int64()),
        ("tokens", pa.list_(pa.int32())),
        ("n_tok", pa.int32()),
        ("text", pa.string()),
        ("procs", strings),
        ("events", strings),
        ("sev_levels", strings),
        ("sev_counts", pa.list_(pa.int32())),
        *[(ngrp_col(n), strings) for n in ngrp_issue_names(cfg)],
        *[(grp_col(n), strings) for n in grp_issue_names(cfg)],
        ("fld_hits", pa.list_(HIT_TYPE)),
    ]
    return pa.schema([pa.field(name, t, False) for name, t in fields])


def parsed_schema(cfg: ConfigSpec) -> T.StructType:
    return from_arrow_schema(parsed_arrow_schema(cfg))
