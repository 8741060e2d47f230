"""Training-data preparation operators beyond dedup/similarity/text-stats:
sequence packing, benchmark-contamination detection, stratified sampling,
PII redaction, and within-document repetition scoring.

These are the remaining staples of a large-scale LLM data pipeline
(RefinedWeb/Dolma-style): after filtering and dedup, documents are packed
into fixed token-budget training sequences, checked for eval-set
contamination, rebalanced across strata, scrubbed of PII, and scored for
degenerate repetition. Every operator is a full DataFrame plan with a
DuckDB oracle (integral outputs; the shared md5 60-bit hash idiom from
operators/dedup.py where a cross-engine hash is needed).

Scale design notes are on each operator; none is O(n²), none collects,
and the only global-order dependence (sequence packing) uses the same
two-phase distributed prefix sum as F12 (`logquery.exclusive_prefix_sum`)
— a global `sum over (order by)` window would funnel 10^12 rows through one
partition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_log_parser_spark.operators.dedup import (
    _SHINGLE_SQL,
    shingle_structs,
)
from radar_log_parser_spark.operators.logquery import (
    QuerySpec,
    _docs,
    _docs_par,
    exclusive_prefix_sum,
)

PACK_BUDGET = 256  # whitespace tokens per packed training sequence
EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 → the held-out "benchmark" set
# per-stratum keep rates (percent): downsample the dominant language,
# keep more of the rare ones — the standard rebalancing shape
STRAT_RATES = {"en": 20, "zh": 80}
STRAT_DEFAULT_RATE = 50
REP_BP_THRESHOLD = 1500  # ≥15% duplicated 3-grams → flagged repetitive


# --- sequence packing: contiguous token-budget binning ----------------------
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents (in doc_id order) into fixed token-budget training
    sequences: seq_id = exclusive-prefix-sum(n_tok) div BUDGET, i.e. a
    document lands in the sequence where its first token falls. Contiguous
    packing is the deterministic, order-preserving variant (greedy
    first-fit is order-dependent across engines); boundary documents
    overflow their sequence, exactly like token-level packing with
    document boundaries kept.

    Scale: the prefix sum is `logquery.exclusive_prefix_sum`, the F12
    two-phase form — no global window, no driver loop."""
    docs = _docs_par(spark, sf_dir)
    toks = docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    # integer `div`, not float division+floor: the exclusive prefix at
    # 10^12 docs exceeds double's 2^53 exact-integer range
    seq = exclusive_prefix_sum(toks, "n_tok").withColumn(
        "seq_id", F.expr(f"excl div {PACK_BUDGET}")
    )
    return seq.groupBy("seq_id").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("seq_tokens"),
        F.min("doc_id").cast("long").alias("first_doc"),
        F.max("doc_id").cast("long").alias("last_doc"),
    )


Q_PACK_SEQUENCES_SQL = f"""
SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS seq_tokens,
       CAST(min(doc_id) AS BIGINT) AS first_doc,
       CAST(max(doc_id) AS BIGINT) AS last_doc
FROM (
  SELECT doc_id, n_tok,
         CAST(COALESCE(sum(n_tok) OVER (ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // {PACK_BUDGET} AS BIGINT) AS seq_id
  FROM (
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
    FROM documents
  )
) GROUP BY seq_id
"""


# --- contamination: shared n-grams with a held-out benchmark set ------------
def q_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination scan: a training document is contaminated if
    it shares any 3-word shingle with the held-out eval set (here the
    deterministic doc_id % {EVAL_MOD} slice of the same table). Emits the
    contaminated docs with their shared-distinct-shingle counts — output
    is proportional to contamination, not corpus size.

    Scale: eval/benchmark sets are small by construction (thousands of
    docs), so the distinct eval-shingle side is BROADCAST; the train side
    streams through one hash join + one narrow groupBy — no shuffle of the
    corpus text, never all-pairs.

    r6: shingles are built and joined as (w1,w2,w3) WORD TRIPLES instead
    of joined strings — triples and "w1 w2 w3" strings are in bijection
    (split-on-space words cannot contain spaces), so the distinct sets,
    the equality join and the per-doc counts are identical, while the
    whole construction stays in codegen (the per-element concat lambda of
    the string form is interpreted — see dedup.shingle_structs)."""
    docs = _docs_par(spark, sf_dir)
    words = [F.col("t")["0"].alias("w1"), F.col("t")["1"].alias("w2"),
             F.col("t")["2"].alias("w3")]
    # the generator expression is INLINED into each explode (and the id
    # filter applied to the raw scan before it): exploding a previously
    # aliased array column runs ~15× slower here — the array column is
    # materialized per row before Generate — and costs nothing to avoid
    eval_sh = (
        docs.filter(F.col("doc_id") % EVAL_MOD == 0)
        .select(F.explode(shingle_structs()).alias("t"))
        .select(*words)
        .distinct()
    )
    train = (
        docs.filter(F.col("doc_id") % EVAL_MOD != 0)
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            F.explode(shingle_structs()).alias("t"),
        )
        .select("doc_id", *words)
    )
    return (
        train.join(F.broadcast(eval_sh), ["w1", "w2", "w3"])
        .groupBy("doc_id")
        # per-doc shingles are already distinct (shingle_structs dedups),
        # so count(*) = number of distinct shared shingles
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


Q_CONTAMINATION_CHECK_SQL = f"""
WITH sh AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SHINGLE_SQL} AS sh FROM documents
),
eval_sh AS (
  SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % {EVAL_MOD} = 0
),
train AS (
  SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE doc_id % {EVAL_MOD} <> 0
)
SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_shared
FROM train t JOIN eval_sh e USING (shingle)
GROUP BY t.doc_id
"""


# --- stratified sampling: deterministic hash sample per stratum -------------
def _strat_rate_spark():
    rate = F.lit(STRAT_DEFAULT_RATE)
    for lang, r in sorted(STRAT_RATES.items()):
        rate = F.when(F.col("lang") == lang, F.lit(r)).otherwise(rate)
    return rate


def _strat_rate_sql() -> str:
    whens = " ".join(
        f"WHEN '{lang}' THEN {r}" for lang, r in sorted(STRAT_RATES.items())
    )
    return f"CASE lang {whens} ELSE {STRAT_DEFAULT_RATE} END"


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: keep a per-language percentage of documents,
    decided by a deterministic content-independent hash bucket of doc_id
    (md5 60-bit idiom, cross-engine exact) — reproducible across runs and
    engines, unlike rand()-based sampling. Downsamples the dominant
    stratum, keeps more of rare ones.

    Scale: a pure narrow filter — no shuffle, no state; the parquet scan
    prunes to (doc_id, lang) and the predicate is codegen'd."""
    docs = _docs(spark, sf_dir)
    # NOTE: this one keeps the `conv`-based hex parse: the keep-filter
    # references the bucket column, so Catalyst substitutes the whole hash
    # expression into BOTH the filter and the projection — with the
    # 15-term shift-add parse that double site drops the stage out of
    # codegen and re-evaluates md5 per digit (measured 1.8 s vs 0.2 s
    # here). conv is one compact expression, immune to that blow-up; the
    # shift-add parse (dedup.md5_60) wins only on the high-volume
    # single-site explode paths.
    base_hash = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("strat:"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    bucket = F.pmod(base_hash, F.lit(100)).cast("long").alias("bucket")
    return (
        docs.select(
            F.col("doc_id").cast("long").alias("doc_id"), "lang", bucket
        )
        .filter(F.col("bucket") < _strat_rate_spark())
    )


Q_STRATIFIED_SAMPLE_SQL = f"""
SELECT doc_id, lang, bucket
FROM (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, lang,
         ('0x' || substr(md5('strat:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100 AS bucket
  FROM documents
)
WHERE bucket < {_strat_rate_sql()}
"""


# --- PII redaction: regex scrub with match accounting -----------------------
# RE2-subset ASCII patterns (the repo-wide engine-parity contract): email,
# IPv4, and a dictionary-based name redaction. The synthetic corpus carries
# no emails/IPs (pytest plants them to exercise those branches); the name
# rule redacts a corpus-visible token so the sf-scale oracle row verifies a
# NON-identity rewrite, not just a pass-through.
PII_EMAIL_RX = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,4}"
PII_IP_RX = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_NAME_RX = r"\bcustomer\b"


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction: count and mask emails, IPv4 addresses, and
    dictionary names. Counting runs on the ORIGINAL text (a masked email
    must not hide a name hit inside it — order-independent accounting),
    masking is a chain of regexp_replace.

    Scale: narrow per-row expressions, all JVM regexp (RE2-compatible
    subset) — the same whole-stage-codegen shape as the severity/quality
    scans; no UDF, no shuffle beyond the low-split fan-out."""
    docs = _docs_par(spark, sf_dir)

    def n(rx: str):
        return F.size(F.regexp_extract_all("text", F.lit(rx), 0))

    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL_RX, "<EMAIL>"),
            PII_IP_RX,
            "<IP>",
        ),
        PII_NAME_RX,
        "<NAME>",
    )
    n_pii = (n(PII_EMAIL_RX) + n(PII_IP_RX) + n(PII_NAME_RX)).cast("long")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_pii.alias("n_pii"),
        redacted.alias("redacted"),
    )


Q_PII_REDACT_SQL = f"""
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(regexp_extract_all(text, '{PII_EMAIL_RX}'))
          + len(regexp_extract_all(text, '{PII_IP_RX}'))
          + len(regexp_extract_all(text, '{PII_NAME_RX}')) AS BIGINT) AS n_pii,
       regexp_replace(regexp_replace(regexp_replace(
         text, '{PII_EMAIL_RX}', '<EMAIL>', 'g'),
         '{PII_IP_RX}', '<IP>', 'g'),
         '{PII_NAME_RX}', '<NAME>', 'g') AS redacted
FROM documents
"""


# --- repetition scoring: duplicated n-gram ratio ----------------------------
def q_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition: fraction of duplicated 3-grams in basis
    points (integral — no float hash risk), with the standard
    degenerate-text flag. total = n_words - 2; distinct via the shared
    shingle construction (struct triples — same count as the joined
    strings by bijection, fully codegen: see dedup.shingle_structs).

    Scale: per-row array expressions only — no explode, no shuffle beyond
    the low-split fan-out."""
    docs = _docs_par(spark, sf_dir)
    n_words = F.size(F.split("text", " "))
    total = F.greatest(n_words - 2, F.lit(0)).cast("long")
    distinct = F.size(shingle_structs()).cast("long")
    rep_bp = F.when(
        total > 0, F.floor((total - distinct) * 10000 / total)
    ).otherwise(F.lit(0)).cast("long")
    return docs.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        total.alias("n_sh_total"),
        distinct.alias("n_sh_distinct"),
        rep_bp.alias("rep_bp"),
        (rep_bp >= REP_BP_THRESHOLD).alias("is_repetitive"),
    )


Q_REPETITION_SCORE_SQL = f"""
SELECT doc_id, n_sh_total, n_sh_distinct, rep_bp,
       rep_bp >= {REP_BP_THRESHOLD} AS is_repetitive
FROM (
  SELECT CAST(doc_id AS BIGINT) AS doc_id,
         CAST(greatest(len(string_split(text,' ')) - 2, 0) AS BIGINT) AS n_sh_total,
         CAST(len({_SHINGLE_SQL}) AS BIGINT) AS n_sh_distinct,
         CAST(CASE WHEN len(string_split(text,' ')) > 2
              THEN (greatest(len(string_split(text,' ')) - 2, 0) - len({_SHINGLE_SQL}))
                   * 10000 // (len(string_split(text,' ')) - 2)
              ELSE 0 END AS BIGINT) AS rep_bp
  FROM documents
)
"""


SPECS: list[QuerySpec] = [
    QuerySpec(
        "pack_sequences",
        "token-budget sequence packing (two-phase prefix sum)",
        q_pack_sequences,
        Q_PACK_SEQUENCES_SQL,
    ),
    QuerySpec(
        "contamination_check",
        "eval-set n-gram contamination scan (broadcast eval shingles)",
        q_contamination_check,
        Q_CONTAMINATION_CHECK_SQL,
    ),
    QuerySpec(
        "stratified_sample",
        "deterministic per-stratum hash sampling",
        q_stratified_sample,
        Q_STRATIFIED_SAMPLE_SQL,
    ),
    QuerySpec(
        "pii_redact",
        "regex PII scrub with match accounting",
        q_pii_redact,
        Q_PII_REDACT_SQL,
    ),
    QuerySpec(
        "repetition_score",
        "duplicated 3-gram ratio, integral basis points",
        q_repetition_score,
        Q_REPETITION_SCORE_SQL,
    ),
]
