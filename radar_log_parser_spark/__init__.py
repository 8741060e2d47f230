"""radar_log_parser_spark — a PySpark-native log parse → enrich → route →
aggregate analytics engine with the query semantics of
``googleinterns/radar-log-parser`` (reference read-only at /root/reference).

NOT a port: the reference is a single-node Go web app that regex-scans one
in-memory log string per request (reference: go-app/report/analyzeLog.go).
This engine re-expresses the same declarative query (a YAML config of named
regex patterns) as a distributed Spark DataFrame plan over an Iceberg/parquet
table of pre-tokenized log lines ``(doc_id, tokens, n_tok, source)``:

  read → decode + match all patterns (one vectorized Arrow UDF pass) →
  route to per-category sinks → aggregate → write, with per-stage
  checkpoints, lineage and metrics for resumable restart.

Everything after the Arrow UDF (decode + match) is pure DataFrame API —
no per-row Python in the hot path.
"""

__version__ = "0.1.0"
