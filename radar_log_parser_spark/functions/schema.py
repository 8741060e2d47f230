"""Parsed-stage schema: one constant, whatever the config.

No column is named after a config entry: issue names and pair indices
travel as data, in keyed lists, so any YAML issue name runs and every
consumer reads the same columns under a 3-issue and an 11-issue config.

  procs / events        array<string>  matching pattern names (F1, F9)
  sev_levels / sev_counts              parallel arrays (F8; one entry per
                                       level that matched — extract-mode
                                       platforms emit at most one)
  ngrp__hits  list<struct<issue,m>>    non-grouped matches (F3): m = every
                                       match substring, in order
  grp__hits   list<struct<issue,m>>    grouped matches (F4): m = the first
                                       match's capture groups g1..gN
  fld_hits    list<struct<k,n,j>>      field-pattern hits of summary pair k
                                       (config.summary_pairs), extracted at
                                       parse time (functions/fieldex.py):
                                       n hits joined "\n" in scan order as j

The keyed lists are sparse and sorted: one entry per issue (pair) with a
hit on the line, in issue-name (k) order, never one with no hit.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import types as T
from pyspark.sql.pandas.types import from_arrow_schema

# struct<issue,m>: one issue's matches on a line (module docstring)
MATCH_TYPE = pa.struct([
    pa.field("issue", pa.string(), False),
    pa.field("m", pa.list_(pa.string()), False),
])

# struct<k,n,j>: one entry of `fld_hits`, the line's hits of pair k
HIT_TYPE = pa.struct([
    pa.field("k", pa.int32(), False),
    pa.field("n", pa.int32(), False),
    pa.field("j", pa.string(), False),
])


def parsed_arrow_schema() -> pa.Schema:
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
        ("ngrp__hits", pa.list_(MATCH_TYPE)),
        ("grp__hits", pa.list_(MATCH_TYPE)),
        ("fld_hits", pa.list_(HIT_TYPE)),
    ]
    return pa.schema([pa.field(name, t, False) for name, t in fields])


def parsed_schema() -> T.StructType:
    return from_arrow_schema(parsed_arrow_schema())
