"""Seeded benchmark inputs and their independent references.

The seed flows only into the files written here; the program under test
receives the files, never the seed. Each input directory is keyed by its
size and seed and holds its reference next to it, so a repeated seed reuses
both.

- Log fixture: `write_scaled_fixture` (the minimal 3-issue fixture catalog)
  plus `tests/oracle.py` `analyse_corpus` run on the decoded corpus.
- Query tables: `events`, `documents` and `embeddings`, the only tables
  the headline queries read, plus the DuckDB rows of every `oracle_sql()`
  text. Their sizes and distributions are the ones measured on the sf0.01
  tables of TESTDATA.md, which a benchmark run cannot read:
  - events: 10 000 rows, ids in ts order; exponential ts gaps over 30 days;
    150 users; five event types, uniform; value round(Exp(mean 50), 2);
    props `{"k": 0..99}`.
  - documents: 500 rows; 10..99 words drawn uniformly from 30 words; then
    500 // 20 rows are overwritten, one at a time, by another row's text
    plus " dup", so a few bases are lost and a few dups are of dups; no
    exact duplicates; language weights 0.4/0.15/0.15/0.15/0.15; source
    `src{i % 20}`.
  - embeddings: 500 i.i.d. Gaussian unit vectors of 64 dimensions, with a
    label 0..9 drawn independently of the vector (on sf0.01 the mean cosine
    is the same within and across labels, and 14 pairs reach 0.45).
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.gate import norm_rows

LOG_POOL_ROWS = 10_000

# sf0.01 sizes and weights, as measured (see the module docstring)
N_EVENTS = 10_000
N_USERS = 150
N_DOCS = 500
N_VECS = 500
EMB_DIM = 64
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()


def _done(d: str) -> bool:
    return os.path.exists(os.path.join(d, "_COMPLETE"))


def _mark(d: str) -> None:
    with open(os.path.join(d, "_COMPLETE"), "w") as f:
        f.write("1")


def decoded_corpus(logs_path: str, vocab) -> dict[str, list[str]]:
    """source → decoded lines in line_no order, straight from the parquet."""
    t = pq.read_table(logs_path, columns=["doc_id", "source", "tokens"])
    by_src: dict[str, list[tuple[int, str]]] = {}
    for doc, src, toks in zip(
        t.column("doc_id").to_pylist(),
        t.column("source").to_pylist(),
        t.column("tokens").to_pylist(),
    ):
        by_src.setdefault(src, []).append((int(doc.rsplit("-", 1)[1]), vocab.decode(toks)))
    return {s: [text for _, text in sorted(v)] for s, v in by_src.items()}


def log_fixture(root: str, rows: int, seed: int) -> str:
    """Write (once) the scaled log fixture and its oracle reference."""
    from radar_log_parser_spark.codec import Vocab
    from radar_log_parser_spark.config import load_config
    from radar_log_parser_spark.sources.fixtures import write_scaled_fixture
    from tests.oracle import analyse_corpus

    d = os.path.join(root, f"logs_{rows}_{seed}")
    if _done(d):
        return d
    fx = write_scaled_fixture(d, n_rows=rows, pool_rows=LOG_POOL_ROWS, seed=seed)
    corpus = decoded_corpus(fx.logs_path, Vocab.load(fx.vocab_path))
    ref = analyse_corpus(corpus, load_config(fx.config_path))
    with open(os.path.join(d, "reference.json"), "w") as f:
        json.dump({"rows": sum(map(len, corpus.values())), "sources": ref}, f)
    _mark(d)
    return d


def _events(rng: np.random.Generator) -> pa.Table:
    gaps = rng.exponential(30 * 86400e6 / N_EVENTS, N_EVENTS)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    return pa.table({
        "event_id": pa.array(np.arange(N_EVENTS), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, N_EVENTS), pa.string()),
        "value": pa.array(np.round(rng.exponential(50.0, N_EVENTS), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)], pa.string()),
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(N_DOCS)]
    for i in rng.choice(N_DOCS, N_DOCS // 20, replace=False):
        texts[i] = texts[rng.integers(0, N_DOCS)] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, N_DOCS, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    v = rng.standard_normal((N_VECS, EMB_DIM)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, N_VECS), pa.int32()),
    })


QUERY_TABLES = ("events", "documents", "embeddings")


def query_tables(root: str, seed: int, queries: list[str], oracle_sql: dict[str, str]) -> str:
    """Write (once) the query tables and the DuckDB reference rows."""
    import duckdb

    d = os.path.join(root, f"tables_{seed}")
    if _done(d):
        return d
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = 0
    for name, make in zip(QUERY_TABLES, (_events, _documents, _embeddings)):
        t = make(rng)
        rows += t.num_rows
        # one row group per file, like the TESTDATA.md tables
        pq.write_table(t, os.path.join(d, f"{name}.parquet"), row_group_size=t.num_rows)
    con = duckdb.connect()
    for name in QUERY_TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{d}/{name}.parquet')")
    ref = {}
    for q in queries:
        if q in oracle_sql:
            rel = con.sql(oracle_sql[q])
            ref[q] = {"columns": sorted(rel.columns), "rows": norm_rows(rel.columns, rel.fetchall())}
    con.close()
    with open(os.path.join(d, "reference.json"), "w") as f:
        json.dump({"rows": rows, "queries": ref}, f)
    _mark(d)
    return d


def load_reference(d: str) -> dict:
    with open(os.path.join(d, "reference.json")) as f:
        return json.load(f)
