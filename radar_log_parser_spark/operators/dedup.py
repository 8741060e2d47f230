"""Deduplication operators for a large-scale training-data pipeline:
exact, n-gram Jaccard (exact baseline), MinHash+LSH (scale path), SimHash,
and embedding-cosine near-dup.

Scale design: the exact pairwise queries are CORRECTNESS BASELINES (oracle-
checkable, O(n²) — run at small sf only); the production path at 10^12 rows
is MinHash+LSH (shingle → minhash signature → band → bucket join →
candidate verify), which shuffles only O(n·bands) rows and verifies only
bucket-colliding candidates. All hashing is JVM-side and deterministic
(murmur3 `F.hash` / `F.xxhash64`) — no per-row Python anywhere, SimHash
included (explode + codegen'd bit-vote aggregates).

The per-bit and per-permutation expressions are SQL text: `minhash_bands`
and `_simhash_from_hashes` build their aggregate and its unpack as ONE
`spark.sql` statement over the input frame (PySpark registers the frame as
a temporary view while the statement is parsed and drops it before
returning), and `md5_60` parses its 15 digits in one `F.expr`. Each `F.*`
call is a Py4J round trip, and about ten on a thread with an active
session, where PySpark also records the call site, so the Column trees
these replace took up to 14k round trips per plan. The text holds only
internal column names and integer constants, never a config string (the
SimHash guard's message is a named parameter), and the optimized plans
equal the Column forms', which `tests/test_round6.py` keeps and pins.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radar_log_parser_spark.operators.logquery import (
    QuerySpec,
    _docs,
    _docs_par,
    _read_par,
)
from radar_log_parser_spark.session import read_parquet

JACCARD_NUM = 6  # threshold 0.6 as integer ratio (no float hash risk)
JACCARD_DEN = 10
MINHASH_PERMS = 32
LSH_BANDS = 8  # 8 bands × 4 rows
COSINE_THRESHOLD = 0.45


def shingles_col(text_col: str = "text"):
    """Distinct 3-word shingles of a document — identical construction to
    the DuckDB oracle (split on single space, windows of 3, dedup).

    Built from three ROW-LEVEL slices of one split, zipped — not
    element_at(split(text), i) inside the transform lambda: expressions
    under a lambda are re-evaluated per ELEMENT (no CSE in interpreted
    higher-order functions), so the lambda form re-split the text
    3×O(shingles) times per evaluation — and Catalyst's
    InferFiltersFromGenerate clones the whole expression into size()>0 /
    isnotnull() filters under every explode, tripling it again (measured
    ~30× total on the contamination scan)."""
    ws = F.split(F.col(text_col), " ")
    n = F.greatest(F.size(ws) - 2, F.lit(0))
    z = F.arrays_zip(
        F.slice(ws, 1, n), F.slice(ws, 2, n), F.slice(ws, 3, n)
    )
    return F.array_distinct(
        F.transform(z, lambda s: F.concat_ws(" ", s["0"], s["1"], s["2"]))
    )


_SHINGLE_SQL = (
    "list_distinct(list_transform(range(1, len(string_split(text,' '))-1), "
    "i -> string_split(text,' ')[i] || ' ' || string_split(text,' ')[i+1] "
    "|| ' ' || string_split(text,' ')[i+2]))"
)


def shingle_structs(text_col: str = "text"):
    """Distinct 3-word shingles as an array of (w1,w2,w3) STRUCTS — the
    fully-codegen'd twin of `shingles_col` (r6, guide §4.1): dropping the
    per-element `transform`+`concat_ws` lambda (interpreted; no
    whole-stage codegen) keeps the whole construction in codegen.

    Struct triples and joined strings are in bijection: `split(text, ' ')`
    words cannot contain spaces, so (w1,w2,w3) ↔ "w1 w2 w3" is injective —
    distinct counts, set intersections and equality joins over the structs
    are IDENTICAL to the same operations over the concatenated strings.
    Consumers that need the actual shingle STRING (the hash families)
    explode the structs first and concat_ws AFTER the explode, where
    concat_ws is a plain codegen'd expression, not a lambda body."""
    ws = F.split(F.col(text_col), " ")
    n = F.greatest(F.size(ws) - 2, F.lit(0))
    return F.array_distinct(
        F.arrays_zip(F.slice(ws, 1, n), F.slice(ws, 2, n), F.slice(ws, 3, n))
    )


def shingle_strings_exploded(df: DataFrame, id_col: str = "doc_id"):
    """(id, text) → (id, shingle STRING) rows: explode the distinct struct
    shingles, then build the joined string with a codegen'd concat_ws.
    Row set identical to exploding `shingles_col` (bijection above)."""
    return df.select(
        id_col, F.explode(shingle_structs()).alias("t")
    ).select(
        id_col,
        F.concat_ws(
            " ", F.col("t")["0"], F.col("t")["1"], F.col("t")["2"]
        ).alias("shingle"),
    )


def _shingled_docs(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The one document read of the MinHash and SimHash queries: every
    document as (doc_id long, text), and the ones with at least 3 words —
    the only ones that carry a shingle. Not materialized: shingling is
    fully codegen (see shingle_structs), so each consumer recomputes it —
    the r5 localCheckpoint degraded repeat runs 1.8 → 4.3 → 11.5 s under
    storage-pool eviction."""
    docs = _docs_par(spark, sf_dir).select(
        F.col("doc_id").cast("long").alias("doc_id"), "text"
    )
    return docs, docs.filter(F.size(F.split("text", " ")) >= 3)


# --- exact dedup: hash-groupBy on content -----------------------------------
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: every doc mapped to the keeper (min doc_id) of its
    identical-text group, with the group size. One hash-partitioned groupBy;
    at 10^12 rows this is the standard first pass (group on a content hash,
    not the text, to keep shuffle rows narrow — semantics identical)."""
    docs = _docs(spark, sf_dir)
    groups = docs.groupBy("text").agg(
        F.min("doc_id").cast("long").alias("keeper_id"),
        F.count("*").cast("long").alias("group_size"),
    )
    return (
        docs.join(groups, "text", "inner")
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            "keeper_id",
            "group_size",
            (F.col("doc_id") != F.col("keeper_id")).alias("is_duplicate"),
        )
    )


Q_DEDUP_EXACT_SQL = """
SELECT CAST(d.doc_id AS BIGINT) AS doc_id, g.keeper_id, g.group_size,
       d.doc_id <> g.keeper_id AS is_duplicate
FROM documents d JOIN (
  SELECT text, CAST(min(doc_id) AS BIGINT) AS keeper_id, CAST(count(*) AS BIGINT) AS group_size
  FROM documents GROUP BY text
) g USING (text)
"""


# --- n-gram Jaccard: exact pairwise baseline --------------------------------
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs at threshold 0.6, expressed as
    integer intersection/union sizes (i*10 >= 6*u). O(n²) baseline — the
    oracle for the LSH scale path below."""
    docs = _docs(spark, sf_dir).filter(F.size(F.split("text", " ")) >= 3)
    sh = docs.select(F.col("doc_id").cast("long").alias("doc_id"), shingles_col().alias("sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    pairs = a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    uni = F.size(F.col("a.sh")) + F.size(F.col("b.sh")) - inter
    return (
        pairs.select(
            F.col("a.doc_id").alias("a_id"),
            F.col("b.doc_id").alias("b_id"),
            inter.cast("long").alias("inter"),
            uni.cast("long").alias("uni"),
        )
        .filter(F.col("inter") * JACCARD_DEN >= JACCARD_NUM * F.col("uni"))
    )


Q_DEDUP_NGRAM_JACCARD_SQL = f"""
WITH docs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SHINGLE_SQL} AS sh
  FROM documents WHERE len(string_split(text,' ')) >= 3
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS inter,
       CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS uni
FROM docs a JOIN docs b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.sh, b.sh)) * {JACCARD_DEN}
      >= {JACCARD_NUM} * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
"""


# --- MinHash + LSH: the scale path ------------------------------------------
def minhash_bands(hashed: DataFrame, perm, perms: int, bands: int, band_key: str) -> DataFrame:
    """(doc_id, per-shingle hash columns) rows → band table (doc_id, band,
    bh), the one signature-and-band plan of both MinHash hash families.
    ONE groupBy(doc_id) of `perms` min-aggregates of the SQL expression
    `perm(i)` (map-side partial aggregation), then `bands` band keys, the
    SQL function `band_key` over consecutive signature rows, posexploded.
    One SQL statement (see the module docstring)."""
    rows = perms // bands
    mins = ", ".join(f"min({perm(i)}) AS h{i}" for i in range(perms))
    keys = ", ".join(
        f"{band_key}({', '.join(f'h{b * rows + r}' for r in range(rows))})"
        for b in range(bands)
    )
    return hashed.sparkSession.sql(
        f"SELECT doc_id, posexplode(array({keys})) AS (band, bh) "
        f"FROM (SELECT doc_id, {mins} FROM {{hashed}} GROUP BY doc_id)",
        hashed=hashed,
    )


def _band_pairs(entries: DataFrame) -> DataFrame:
    """Candidate pairs of a band table (doc_id, band, bh): every doc pair
    sharing a (band, bh) bucket, once. The shuffle is O(n·bands); only
    colliding candidates are verified."""
    a = entries.alias("a")
    b = entries.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("a_id"), F.col("b.doc_id").alias("b_id"))
        .dropDuplicates()
    )


def _jaccard_verify(base: DataFrame, cand: DataFrame) -> DataFrame:
    """Exact shingle-Jaccard verify of candidate pairs (a_id, b_id) over
    `base` (doc_id, text): keeps pairs at ≥ JACCARD_NUM/JACCARD_DEN.

    Verifies on STRING shingle arrays: array_intersect's hash-set kernel
    over (w1,w2,w3) STRUCT elements measured 4.3 s min with 27 s GC
    outliers vs a stable 1.8-2.0 s over plain strings at the sf1like
    scale — struct equality/hashing inside the set build dominates and
    allocates heavily. The struct↔string bijection (words are space-free)
    makes the inter/uni sizes identical either way, so the cheaper element
    type wins; construction cost of shingles_col's interpreted
    per-element concat is noise next to the intersect."""
    sh = base.select("doc_id", shingles_col().alias("sh"))
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    verified = cand.join(a, "a_id").join(b, "b_id")
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    uni = F.size("a_sh") + F.size("b_sh") - inter
    return verified.select(
        "a_id", "b_id",
        inter.cast("long").alias("inter"),
        uni.cast("long").alias("uni"),
    ).filter(F.col("inter") * JACCARD_DEN >= JACCARD_NUM * F.col("uni"))


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup: candidates from band-bucket collisions,
    verified by exact shingle Jaccard — same output contract as the exact
    baseline (rows-only driver check; pytest asserts equality with the
    exact pairs at this threshold)."""
    _, base = _shingled_docs(spark, sf_dir)
    bands = minhash_bands(
        shingle_strings_exploded(base),
        lambda i: f"hash(shingle, {i})",
        MINHASH_PERMS,
        LSH_BANDS,
        "hash",
    )
    return _jaccard_verify(base, _band_pairs(bands))


# --- MinHash+LSH, cross-engine hash family (oracle-checkable) ---------------
MD5_PERMS = 16
MD5_BANDS = 4  # 4 bands × 4 rows

# Universal-hash permutation family over ONE base hash. The base H is 60
# bits (15 hex digits of md5) — a 28-bit base collided distinct shingles at
# birthday scale (~16k shingles, certain at bench corpora), and a base
# collision collides in EVERY permutation, biasing Jaccard estimates upward
# (ADVICE r4). 60 bits makes base collisions negligible (~n²/2^61).
# A_i·H would overflow BIGINT at 60-bit H, so the permutation hashes the
# two 30-bit halves Carter-Wegman style:
#   perm_i(H) = (A_i·(H>>30) + B_i·(H & (2^30-1)) + C_i) mod P,
# P = 2^31-1 (Mersenne prime), A_i,B_i < P — each product < 2^61, the sum
# < 2^63: plain BIGINT arithmetic in both Spark and DuckDB, no 128-bit
# intermediate. Constants from a fixed-seed PRNG so both engines embed
# identical literals.
MD5_P = (1 << 31) - 1
MD5_LO_MASK = (1 << 30) - 1
import random as _random

_rng = _random.Random(0x5EED_CAFE)
MD5_LINEAR = [
    (_rng.randrange(1, MD5_P), _rng.randrange(1, MD5_P), _rng.randrange(MD5_P))
    for _ in range(MD5_PERMS)
]
del _rng


def md5_60(df: DataFrame, src, name: str) -> DataFrame:
    """`df` plus `name`: the first 15 hex digits of md5(`src`) as a 60-bit
    BIGINT — computable bit-identically in DuckDB
    (`('0x'||substr(md5(x),1,15))::BIGINT`). The one cross-engine hash of
    the md5 MinHash, the md5 SimHash and the IVF centroid seeds.

    r6: the shift-add parse replaced `F.conv(hex, 16, 10)` — conv's generic
    radix machinery measured ~3× the cost of computing the md5 itself
    (4.4 s vs 1.5 s over 2.4M shingles), the parse is plain codegen'd
    arithmetic (1.0 s), and the value is the same function of the input
    (verified: 0 mismatches over the full 2.4M-shingle bench corpus).

    The md5 is projected in its own select and parsed in the next: the 15
    digit extractions each reference it, and when the surrounding stage
    falls out of whole-stage codegen (or CSE does not fire) an inline md5
    is re-evaluated per digit. CollapseProject refuses to inline a
    non-cheap expression referenced 15×, so the select boundary
    guarantees ONE md5 per row (measured 1.83 s → 0.79 s over the
    2.6M-shingle sf1like explode)."""
    acc = None
    for i in range(1, 16):
        a = f"ascii(substring(`{name}`, {i}, 1))"
        d = f"CAST(CASE WHEN {a} >= 97 THEN {a} - 87 ELSE {a} - 48 END AS BIGINT)"
        acc = d if acc is None else f"shiftleft({acc}, 4) + {d}"
    return df.withColumn(name, F.md5(src)).withColumn(name, F.expr(acc))


def q_dedup_minhash_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME band-bucket LSH algorithm as q_dedup_minhash_lsh, but with a
    hash family BOTH engines can compute bit-identically, so the scale-path
    algorithm gets a full DuckDB oracle row, not just a property test
    against the exact baseline (murmur3/xxhash64 have no DuckDB equivalent).

    ONE md5 per shingle (r3 computed 16 — the measured 2.5× cost over the
    murmur3 path); the 16 permutations derive from that single 60-bit base
    hash as (A_i·hi + B_i·lo + C_i) mod P integer arithmetic over the two
    30-bit halves, identical in DuckDB (see MD5_LINEAR block).
    The plan is the production path's (`minhash_bands`, `_band_pairs`,
    `_jaccard_verify`): explode shingles → 16 min-aggregates → 4-row band
    arrays → band-bucket equi-join on the band's row array → exact-Jaccard
    verify of the colliding candidates. Shuffle O(n·bands); never
    all-pairs."""
    _, base = _shingled_docs(spark, sf_dir)
    ex = md5_60(shingle_strings_exploded(base), F.col("shingle"), "h")

    def perm(i: int) -> str:
        a, b, c = MD5_LINEAR[i]
        return f"({a} * shiftright(h, 30) + {b} * (h & {MD5_LO_MASK}) + {c}) % {MD5_P}"

    # a band's key is its row array itself (DuckDB joins on the same list)
    bands = minhash_bands(ex, perm, MD5_PERMS, MD5_BANDS, "array")
    return _jaccard_verify(base, _band_pairs(bands))


_MD5_AB_VALUES = ", ".join(
    f"({i}, {a}, {b}, {c})" for i, (a, b, c) in enumerate(MD5_LINEAR)
)

Q_DEDUP_MINHASH_LSH_MD5_SQL = f"""
WITH docs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SHINGLE_SQL} AS sh
  FROM documents WHERE len(string_split(text,' ')) >= 3
),
ex AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM docs)
),
hs AS (
  SELECT doc_id, i,
         min((ab.a * (ex.h >> 30) + ab.b * (ex.h & {MD5_LO_MASK}) + ab.c)
             % {MD5_P}) AS h
  FROM ex CROSS JOIN (VALUES {_MD5_AB_VALUES}) ab(i, a, b, c)
  GROUP BY doc_id, i
),
bands AS (
  SELECT doc_id, i // {MD5_PERMS // MD5_BANDS} AS band, list(h ORDER BY i) AS bh
  FROM hs GROUP BY doc_id, i // {MD5_PERMS // MD5_BANDS}
),
cand AS (
  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)
SELECT a_id, b_id,
       CAST(len(list_intersect(da.sh, db.sh)) AS BIGINT) AS inter,
       CAST(len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)) AS BIGINT) AS uni
FROM cand JOIN docs da ON cand.a_id = da.doc_id
          JOIN docs db ON cand.b_id = db.doc_id
WHERE len(list_intersect(da.sh, db.sh)) * {JACCARD_DEN}
      >= {JACCARD_NUM} * (len(da.sh) + len(db.sh) - len(list_intersect(da.sh, db.sh)))
"""


# --- SimHash -----------------------------------------------------------------
SIMHASH_BITS = 60  # 15 hex digits of md5 — exactly representable cross-engine


_SIMHASH_FIELD_BITS = 21  # per-bit count field stride in the packed sums
_SIMHASH_FIELDS = 64 // _SIMHASH_FIELD_BITS  # counts per packed long (3)
_SIMHASH_PACKS = SIMHASH_BITS // _SIMHASH_FIELDS  # packed columns (20)
# Documents with more distinct shingles than this cap fail LOUDLY via the
# guard below. 21-bit strides keep every count field exact and the packed
# sums < 2^62 up to this 2^20-1 cap — 2× margin; past 2^21 shingles a sum
# leaves the signed long and its try_sum turns NULL, still behind the
# guard (the r6a 16-bit/4-field layout's plain sums ANSI-aborted with a
# generic ARITHMETIC_OVERFLOW from 2^15 shingles up, before its guard).
_SIMHASH_MAX_SHINGLES = (1 << 20) - 1


def _simhash_from_hashes(docs: DataFrame, hb: DataFrame) -> DataFrame:
    """(doc_id, h: 60-bit-usable BIGINT per shingle) → (doc_id, simhash).

    r6 packed-count form: per shingle row the 60 bit-tests are packed into
    20 longs of 3 count fields at 21-bit strides (plain shifts/masks,
    codegen'd); ONE map-side-combinable groupBy sums the packs + the
    shingle count; the majority per bit unpacks from the sums (vote sum
    > 0 ⟺ 2·cnt_bit > n_shingles — exactly the previous ±1-vote
    majority, integer arithmetic throughout, so the fingerprints are
    identical).

    This replaces the r2–r5 60-row broadcast bit expansion + two
    aggregations: same output, one aggregation instead of two, and a
    shuffle of 21 longs/doc instead of ≤60 rows/doc. (The r2 wide form
    of 60 when-sums was abandoned for a codegen overflow; the packed
    form's aggregate is 21 plain long sums — well inside codegen — and
    the 60-term unpack lives in a separate post-agg projection.)
    Capacity: _SIMHASH_MAX_SHINGLES distinct shingles per document,
    enforced with a loud, named raise_error after the aggregation. The
    packed sums are `try_sum`s: from 2^21 shingles up a sum passes 2^63 − 1
    and turns NULL instead of aborting the aggregate with a generic
    ARITHMETIC_OVERFLOW, so the named guard fires at any document size. A
    million-distinct-shingle document means many megabytes of text in one
    row — re-shard upstream rather than silently truncate."""
    packs = ", ".join(
        "try_sum("
        + " + ".join(
            f"shiftleft(CAST((shiftright(h, {_SIMHASH_FIELDS * j + k}) & 1) AS BIGINT), "
            f"{_SIMHASH_FIELD_BITS * k})"
            for k in range(_SIMHASH_FIELDS)
        )
        + f") AS p{j}"
        for j in range(_SIMHASH_PACKS)
    )
    mask = (1 << _SIMHASH_FIELD_BITS) - 1
    bitsum = " + ".join(
        f"CASE WHEN (shiftright(p{j}, {_SIMHASH_FIELD_BITS * k}) & {mask}) * 2 > nsh "
        f"THEN CAST({1 << (_SIMHASH_FIELDS * j + k)} AS BIGINT) ELSE CAST(0 AS BIGINT) END"
        for j in range(_SIMHASH_PACKS)
        for k in range(_SIMHASH_FIELDS)
    )
    sim = hb.sparkSession.sql(
        f"SELECT doc_id, CASE WHEN nsh > {_SIMHASH_MAX_SHINGLES} "
        f"THEN CAST(raise_error(:overflow) AS BIGINT) ELSE {bitsum} END AS simhash "
        f"FROM (SELECT doc_id, count(*) AS nsh, {packs} FROM {{hb}} GROUP BY doc_id)",
        args={
            "overflow": "simhash packed-count overflow: a document carries more "
            f"than {_SIMHASH_MAX_SHINGLES} distinct shingles; "
            "re-shard the document upstream"
        },
        hb=hb,
    )
    # docs with <3 words carry fingerprint 0 (no shingles to vote)
    return docs.select("doc_id").join(sim, "doc_id", "left").select(
        "doc_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash fingerprints (doc_id, simhash) — PRODUCTION hash
    family: one native `xxhash64` per shingle (a single JVM intrinsic; the
    per-shingle md5→hex→conv chain the r4 default paid for its oracle
    measured 8× slower, VERDICT r4 #2). Bits 0..59 of the 64-bit hash vote.

    No DuckDB oracle (xxhash64 has no DuckDB equivalent) — correctness is
    carried by `q_dedup_simhash_md5`, the bit-identical-in-both-engines
    twin sharing `_simhash_from_hashes` (identical plan, only the hash
    family differs), plus a property test that BOTH families put planted
    near-dups at low Hamming distance and random pairs far."""
    docs, base = _shingled_docs(spark, sf_dir)
    hb = shingle_strings_exploded(base).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )
    return _simhash_from_hashes(docs, hb)


def q_dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash oracle twin: identical plan to `q_dedup_simhash` (shared
    `_simhash_from_hashes`), but the per-shingle hash is the first 15 hex
    digits of md5 as a 60-bit BIGINT — the same cross-engine family as the
    md5 LSH, so DuckDB reproduces the fingerprints bit-identically and this
    query carries the FULL value-match oracle row for the SimHash
    algorithm. The xxhash64 twin is the benched production default."""
    docs, base = _shingled_docs(spark, sf_dir)
    hb = md5_60(shingle_strings_exploded(base), F.col("shingle"), "h")
    return _simhash_from_hashes(docs, hb)


Q_DEDUP_SIMHASH_MD5_SQL = f"""
WITH docs AS (
  SELECT CAST(doc_id AS BIGINT) AS doc_id, {_SHINGLE_SQL} AS sh
  FROM documents WHERE len(string_split(text,' ')) >= 3
),
hb AS (
  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(sh) AS shingle FROM docs)
),
perbit AS (
  SELECT doc_id, bit,
         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM hb CROSS JOIN range({SIMHASH_BITS}) t(bit)
  GROUP BY doc_id, bit
),
sim AS (
  SELECT doc_id,
         sum(CASE WHEN v > 0 THEN (1::BIGINT << bit) ELSE 0::BIGINT END) AS s
  FROM perbit GROUP BY doc_id
)
SELECT d.doc_id, CAST(COALESCE(sim.s, 0) AS BIGINT) AS simhash
FROM (SELECT CAST(doc_id AS BIGINT) AS doc_id FROM documents) d
LEFT JOIN sim USING (doc_id)
"""


# --- embedding-cosine near-dup ----------------------------------------------
EMB_DIM = 64


def _norm_col(col):
    return F.sqrt(
        F.aggregate(
            F.transform(col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# --- the numpy twins of _dot / _norm_col, shared by the vector kernels ------
def f64_rows(col) -> np.ndarray:
    """An Arrow list<float> column (array or chunked) as an (n, d) float64
    matrix; float32→float64 widening is exact."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(len(col), -1 if len(col) else 0).astype(np.float64)


def fold_dots(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """(n, d) × (m, d) → (n, m): every row of A dotted with every row of B,
    bit-identical to `_dot`. The accumulator adds `A[:, i] ⊗ B[:, i]`
    dimension by dimension — the exact left-fold order and IEEE-754 double
    ops of `_dot`'s F.aggregate and of the DuckDB oracles' list_sum — so
    the kernels that call it (`_emb_sig_map`, `_emb_bucket_verify_factory`,
    `similarity._ivf_assign_factory`) reproduce the JVM and DuckDB folds
    exactly, not approximately.

    A's rows are tiled so each accumulator holds ~2^15 doubles (256 KB)
    and the fold adds in place: the tile stays L2-resident through the
    d-term fold. A 2 MB tile re-written per dimension turned the bucket
    verify into ~64 full-tile DRAM round-trips (29 s for the whole query
    against ~3 s tiled)."""
    n, m = len(A), len(B)
    out = np.empty((n, m), dtype=np.float64)
    block = max(1, (1 << 15) // m)
    tmp = np.empty((min(block, n), m), dtype=np.float64)
    for s in range(0, n, block):
        e = min(s + block, n)
        acc = out[s:e]
        acc[...] = 0.0
        t_ = tmp[: e - s]
        for i in range(A.shape[1]):
            np.multiply.outer(A[s:e, i], B[:, i], out=t_)
            acc += t_
    return out


def fold_norms(A: np.ndarray) -> np.ndarray:
    """Row norms of an (n, d) matrix, bit-identical to `_norm_col`: the
    same left fold of squares (see `fold_dots`), then one correctly-rounded
    sqrt (np.sqrt ≡ Math.sqrt, both IEEE)."""
    acc = np.zeros(len(A), dtype=np.float64)
    for i in range(A.shape[1]):
        acc += A[:, i] * A[:, i]
    return np.sqrt(acc)


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cos ≥ 0.45), exact pairwise over the
    normalized vectors. Scale path: LSH-bucket by random hyperplane signs or
    IVF-block (see similarity.py); this exact form is the oracle baseline."""
    emb = read_parquet(spark, f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "embedding",
        _norm_col(F.col("embedding")).alias("nrm"),
    )
    a = emb.alias("a")
    b = emb.alias("b")
    cos = _dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            F.round(cos, 6).alias("cos"),
        )
        .filter(F.col("cos") >= COSINE_THRESHOLD)
    )


Q_DEDUP_EMBEDDING_COSINE_SQL = f"""
WITH emb AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
             p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) / (a.nrm*b.nrm), 6) AS cos
FROM emb a JOIN emb b ON a.vec_id < b.vec_id
WHERE round(list_sum(list_transform(list_zip(a.embedding, b.embedding),
      p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) / (a.nrm*b.nrm), 6) >= {COSINE_THRESHOLD}
"""


# --- embedding near-dup, random-hyperplane LSH (the scale path) -------------
EMB_LSH_BANDS = 8
EMB_LSH_BITS = 4  # per band → 32 hyperplanes total


# Deterministic GAUSSIAN hyperplanes from a fixed-seed PRNG: both engines
# embed the SAME literal arrays (repr(float) round-trips the exact double in
# Python, Spark and DuckDB), so the signature (and therefore the output) is
# cross-engine reproducible. Gaussian, not ±1 Rademacher (r4): the
# 1-arccos(cos)/pi per-bit collision law assumes SPHERICALLY SYMMETRIC
# plane normals; ±1 planes are not, and measured recall at 8×4 was 0.571
# vs Gaussian 0.857 on the identical corpus (sf0.01) — the r4 'below the
# derived floor' anomaly was the plane family, not the derivation's band
# algebra. Sign parity across engines relies on the dot products being
# left-fold sums in identical order (the same assumption every cosine
# oracle here makes); a sign flip would need |dot| at the double-rounding
# scale (~1e-16), astronomically unlikely for real vectors.
_rng_p = _random.Random(0xA55ED1CE)
EMB_PLANES = [
    [_rng_p.gauss(0.0, 1.0) for _ in range(EMB_DIM)]
    for _ in range(EMB_LSH_BANDS * EMB_LSH_BITS)
]
del _rng_p


def _emb_sig_map(it):
    """Vectorized hyperplane-signature kernel (mapInArrow, guide §4.2):
    packs the 8 per-band 4-bit sign keys into ONE long per vector and
    passes the embedding column through untouched, so the band entries
    carry their own vectors into the bucket kernel.

    Bit j of the signature is `_dot(vec, EMB_PLANES[j]) >= 0`, computed by
    `fold_dots` (bit-identical to the JVM left fold and the DuckDB
    oracle's list_sum; `tests/test_round6.py` pins it against the fold).
    The 32-plane × 64-term JVM expression alternative overflows janino
    (codegen compile failure → interpreted fallback, ~130 µs/row); this
    kernel runs the whole batch through numpy at ~1 µs/row."""
    P = np.array(EMB_PLANES, dtype=np.float64)
    weights = np.left_shift(np.int64(1), np.arange(len(P), dtype=np.int64))
    for batch in it:
        vid = batch.column("vec_id")
        dots = fold_dots(f64_rows(batch.column("embedding")), P)
        sig = (dots >= 0.0).astype(np.int64) @ weights
        yield pa.RecordBatch.from_arrays(
            [vid, pa.array(sig), batch.column("embedding")],
            ["vec_id", "sig", "embedding"],
        )


def _emb_bucket_verify_factory(thr: float):
    """Per-BUCKET pair generation + exact-cosine verify in one vectorized
    Arrow kernel (groupBy(band, key).applyInArrow). The input is the
    band-entry table (vec_id, sig, embedding, band, key — one (band, key)
    bucket per call, n·bands rows total across buckets): each vector
    crosses the UDF boundary once per band, inside the bucket that uses
    it, so the kernel reads the bucket's vectors from its own rows and no
    driver or broadcast state exists. The ~n²/2^bits-per-bucket candidate
    pairs are generated AND verified inside numpy, so the pair stream
    never crosses a serialization boundary at all. (The alternatives both
    lose: attaching embeddings to the pairs by join pushes every pair
    through an interpreted JVM fold — 18 s at the 82.5M-pair bench scale —
    and streaming the narrow pairs into a mapInArrow verify pays ~26 s of
    pure JVM→Arrow boundary for the same rows, measured with a passthrough
    kernel.) Output is only the prefiltered survivors; round(·,6) + the
    final threshold stay in Spark expressions.

    The emitted pair set is IDENTICAL to the band equi-join + first-band
    filter: within a bucket of band t every a<b pair collides by
    construction, and the kernel keeps a pair only when every earlier
    band's 4-bit key differs (same XOR + nibble tests on the packed sigs).

    Bit-identity of the cosine: the dots and norms are `fold_dots` and
    `fold_norms` (see there), and cos = dot / (nrm_a * nrm_b) mirrors
    Divide(dot, Multiply(·,·)).

    Row-blocking bounds kernel memory to ~block×k doubles per bucket (a
    pathological hot bucket degrades to more blocks, never to a bigger
    allocation); production sizing keeps buckets bounded via EMB_LSH_BITS
    ≈ log2(n/β) — see q_dedup_embedding_lsh."""
    def _verify(tbl):
        empty = pa.table({
            "a_id": pa.array([], pa.int64()),
            "b_id": pa.array([], pa.int64()),
            "cos_raw": pa.array([], pa.float64()),
        })
        k = tbl.num_rows
        if k < 2:
            return empty
        vid = tbl.column("vec_id").to_numpy(zero_copy_only=False)
        sig = tbl.column("sig").to_numpy(zero_copy_only=False)
        E = f64_rows(tbl.column("embedding"))
        band = tbl.column("band")[0].as_py()
        o = np.argsort(vid)  # ascending → upper triangle ⟺ a_id < b_id
        vid, sig, Eb = vid[o], sig[o], E[o]
        nrm = fold_norms(Eb)
        # Blocked upper triangle: each row block is one `fold_dots` tile
        # (same ~2^15-double sizing), and sub-diagonal columns are skipped
        # outright (upper triangle ⟺ a_id < b_id on the sorted vids).
        out_a: list = []
        out_b: list = []
        out_c: list = []
        nib_mask = (1 << EMB_LSH_BITS) - 1
        block = max(1, (1 << 15) // k)
        for s in range(0, k - 1, block):
            e = min(s + block, k)
            c0 = s + 1  # only columns > s can sit above the diagonal
            cos = fold_dots(Eb[s:e], Eb[c0:]) / np.multiply.outer(
                nrm[s:e], nrm[c0:]
            )
            keep = (np.arange(c0, k)[None, :] > np.arange(s, e)[:, None]) & (
                cos >= thr
            )
            if band:
                x = np.bitwise_xor.outer(sig[s:e], sig[c0:])
                for t in range(band):
                    keep &= ((x >> (EMB_LSH_BITS * t)) & nib_mask) != 0
            ai, bj = np.nonzero(keep)
            out_a.append(vid[ai + s])
            out_b.append(vid[bj + c0])
            out_c.append(cos[ai, bj])
        if not out_a:
            return empty
        return pa.table({
            "a_id": pa.array(np.concatenate(out_a)),
            "b_id": pa.array(np.concatenate(out_b)),
            "cos_raw": pa.array(np.concatenate(out_c)),
        })
    return _verify


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH near-dup pairs — the
    SCALE path for q_dedup_embedding_cosine's O(n²) exact baseline: each
    vector gets EMB_LSH_BANDS 4-bit sign signatures (one per band of 4
    hyperplanes), candidates come from an equi-join on (band, key) —
    shuffle O(n·bands), never all-pairs — and only colliding candidates
    are verified with the exact cosine. Recall < 1 by design (pairs whose
    signatures collide in no band are never scored): for GAUSSIAN plane
    normals the per-bit collision prob at the cos=0.45 threshold is
    1-arccos(0.45)/pi ~= 0.649, so the expected recall floor for a pair AT
    the threshold is 1-(1-0.649^4)^8 ~= 0.79; pairs above the threshold do
    better. Measured with the fixed-seed Gaussian planes: 0.857 at both
    sf0.001 (6/7 exact pairs) and sf0.01 (12/14) — within one binomial sd
    of the floor, as expected for corpora whose qualifying pairs cluster
    just above the threshold (sf0.01: all 14 pairs have cos ≤ 0.513).
    r4's 0.57-vs-0.79 anomaly was the ±1 Rademacher plane family violating
    the derivation's spherical-symmetry assumption (see EMB_PLANES), not
    the band algebra. More bands buy recall linearly in shuffle cost.
    Precision = 1 (every emitted pair is exact-verified).

    100-TB sizing note: EMB_LSH_BITS is the bucket-granularity knob — a
    band's expected candidate load is ~n²/2^bits (random pairs agree per
    bit with prob 1/2), so production sizing is bits ≈ log2(n/β) for a
    target bucket size β, with bands grown to hold recall (the classic
    hyperplane-LSH exponent at this threshold: ρ = ln(1/0.649)/ln 2 ≈
    0.62, i.e. total work ~ n^1.62 — sub-quadratic, not linear; a tighter
    cosine threshold lowers ρ). The 4-bit/8-band default is sized for the
    test corpora (n ≤ 2000), where deeper buckets would leave qualifying
    pairs unmeasurable. pytest measures recall against the exact baseline
    at sf0.001 AND sf0.01; the DuckDB oracle runs the SAME deterministic
    planes, so the driver check is a full value match.

    Building the DataFrame runs no Spark job beyond the parquet read's
    own, and the driver holds no vectors: each band entry carries its
    vector to its bucket's kernel call."""
    # r6 restructure (guide §2.3/§2.4, worked example §8): the r5 plan
    # carried BOTH 64-float embeddings + norms through every band-colliding
    # row into a dropDuplicates shuffle — measured 105M pre-dedup rows ×
    # ~0.5 KB at the 20k-vector scale (≈130 s; 61% of the whole r5 driver
    # bench). Now:
    #   1. the 32 hyperplane signs are computed by the vectorized Arrow
    #      kernel `_emb_sig_map` (bit-identical left fold — see
    #      `fold_dots`) and packed into ONE long per vector; the band entries
    #      (vec_id, sig, embedding, band, key) are n·bands rows, each with
    #      its own vector — never one row per candidate pair;
    #   2. the band buckets go STRAIGHT into the per-bucket Arrow kernel
    #      (_emb_bucket_verify_factory): pair generation, first-colliding-
    #      band dedup (one XOR + nibble tests on the packed sigs — exactly
    #      one row per colliding pair, no dropDuplicates) AND the exact-
    #      cosine verify all run inside numpy, so the ~n²/2^bits candidate
    #      pair stream never exists as Spark rows (the r6a broadcast-join
    #      attach paid an 18 s interpreted-fold stage over 82.5M pairs;
    #      a narrow-pair mapInArrow verify paid ~26 s of pure JVM→Arrow
    #      boundary for the same rows — measured with a passthrough).
    # Output contract identical: same candidate set (collide in ≥1 band),
    # one row per pair, bit-identical cosines.
    emb = _read_par(spark, f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    sigs = emb.mapInArrow(
        _emb_sig_map, "vec_id long, sig long, embedding array<float>"
    )
    nibbles = F.array(*[
        F.shiftright("sig", EMB_LSH_BITS * t)
        .bitwiseAND(F.lit((1 << EMB_LSH_BITS) - 1))
        .cast("int")
        for t in range(EMB_LSH_BANDS)
    ])
    entries = sigs.select(
        "vec_id", "sig", "embedding", F.posexplode(nibbles).alias("band", "key")
    )
    # The prefilter threshold handed to the kernel is STRICTLY weaker than
    # the rounded test — round6(x) >= 0.45 requires x >= 0.4499995 - 1ulp,
    # far above 0.449999 — so it drops no qualifying pair; round(·,6) and
    # the final comparison stay in Spark expressions (HALF_UP semantics
    # unchanged) over the same doubles the JVM fold would have produced.
    # Explicit partition count ahead of the groupBy: the bucket-entry
    # shuffle is a few MB, so AQE's partition coalescing (sized for bytes,
    # blind to the O(k²) work behind each bucket) folds it to 1-2
    # partitions and serializes the whole quadratic verify onto 1-2 cores
    # — measured 14.5 s vs 3.1 s for the identical kernel. A user-supplied
    # numPartitions is exempt from coalescing, and the groupBy reuses the
    # exchange (same keys). Scale-adaptive: 4× the session's default
    # parallelism, never a constant.
    P = spark.sparkContext.defaultParallelism * 4
    verified = entries.repartition(P, "band", "key").groupBy(
        "band", "key"
    ).applyInArrow(
        _emb_bucket_verify_factory(COSINE_THRESHOLD - 1e-6),
        "a_id long, b_id long, cos_raw double",
    )
    return verified.select(
        "a_id", "b_id", F.round("cos_raw", 6).alias("cos")
    ).filter(F.col("cos") >= COSINE_THRESHOLD)


def _emb_lsh_sql() -> str:
    def dot_sql(plane: list[float]) -> str:
        lits = "[" + ", ".join(str(v) for v in plane) + "]"
        return (
            f"list_sum(list_transform(list_zip(embedding, {lits}), "
            "p -> CAST(p[1] AS DOUBLE) * p[2]))"
        )

    def key_sql(t: int) -> str:
        bits = [
            f"(CASE WHEN {dot_sql(EMB_PLANES[t * EMB_LSH_BITS + b])} >= 0 "
            f"THEN {1 << b} ELSE 0 END)"
            for b in range(EMB_LSH_BITS)
        ]
        return " + ".join(bits)

    bands = "\nUNION ALL\n".join(
        f"SELECT vec_id, embedding, nrm, {t} AS band, {key_sql(t)} AS key FROM emb"
        for t in range(EMB_LSH_BANDS)
    )
    return f"""
WITH emb AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
entries AS ({bands}),
cand AS (
  SELECT DISTINCT a.vec_id AS a_id, b.vec_id AS b_id
  FROM entries a JOIN entries b
    ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
)
SELECT a_id, b_id,
       round(list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
             p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) / (ea.nrm*eb.nrm), 6) AS cos
FROM cand JOIN emb ea ON cand.a_id = ea.vec_id
          JOIN emb eb ON cand.b_id = eb.vec_id
WHERE round(list_sum(list_transform(list_zip(ea.embedding, eb.embedding),
      p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) / (ea.nrm*eb.nrm), 6) >= {COSINE_THRESHOLD}
"""


Q_DEDUP_EMBEDDING_LSH_SQL = _emb_lsh_sql()


# --- near-dup clustering: connected components over the LSH pair graph ------
CLUSTER_MAX_ITERS = 25


def q_dedup_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected-components clustering over the verified near-dup pair
    graph: every document labeled with its cluster representative (the min
    doc_id reachable via near-dup edges), the cluster size, and a canonical
    flag — the step that turns pair emission into an actual keep/drop
    decision in a dedup pipeline (keep ``is_canonical``, drop the rest).
    This mirrors how the reference collapses repeated issues into ONE
    grouped report row (report/analyzeLog.go:196-265 grouped collapse) — here
    generalized to transitive near-dup groups over documents.

    Edges are the md5 MinHash+LSH verified pairs (the oracle-checkable
    scale path, q_dedup_minhash_lsh_md5); docs with <3 words carry no
    shingles, hence no edges, and are singleton clusters by construction.

    Scale design: iterative min-label propagation —
    label(v) <- min(label(v), min of neighbors' labels) — the standard
    DataFrame-only connected components (no graph library dependency).
    Each round is ONE equi-join + ONE map-side-combinable min-groupBy,
    shuffling narrow (long,long) rows of size O(V+E), and converges in
    O(cluster diameter) rounds. Near-dup clusters are near-cliques (LSH
    bands fire on most dup-pair combinations), so diameter is small in
    practice; a pathological chain is bounded by CLUSTER_MAX_ITERS with a
    loud failure, and the large-star/small-star variant (O(log n) rounds
    adversarially) is the documented upgrade path if a corpus trips it.
    Labels are localCheckpoint-ed each round so lineage stays O(1) deep
    instead of O(iterations); the convergence probe is a LIMIT-1 count on
    the changed-label anti-condition join (a driver-side scalar per round,
    never a collect of data)."""
    from pyspark import StorageLevel

    docs = _docs(spark, sf_dir)
    pairs = q_dedup_minhash_lsh_md5(spark, sf_dir).select("a_id", "b_id")
    edges = (
        pairs.union(pairs.select("b_id", "a_id"))
        .toDF("u", "v")
        .localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    labels = docs.select(
        F.col("doc_id").cast("long").alias("u"),
        F.col("doc_id").cast("long").alias("cluster_id"),
    ).localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    # Convergence probe (r6): min-label propagation only ever DECREASES
    # labels, so the total label sum strictly decreases until the fixpoint
    # — ONE map-side-combinable aggregate per round replaces the r5
    # join + LIMIT-1 probe job (a second join of the full label frame per
    # round). DECIMAL(38,0) keeps the sum exact at any corpus size
    # (10^12 rows × 10^12 max id = 10^24 ≪ 10^38; a wrapped BIGINT sum
    # could in principle alias two different label sets).
    label_sum = F.sum(F.col("cluster_id").cast("decimal(38,0)"))
    prev_sum = labels.agg(label_sum).collect()[0][0]
    for _ in range(CLUSTER_MAX_ITERS):
        nb = edges.join(
            labels.select(F.col("u").alias("v"), "cluster_id"), "v"
        ).select("u", "cluster_id")
        # EAGER localCheckpoint kept deliberately: a lazy checkpoint
        # (probe agg as the materializing action, 1 job/round instead of
        # 2) was tried this round and measured UNSTABLE — 8-40 s swings
        # at the 50k-doc scale vs a steady ~4.8 s eager, on a clean-calib
        # host. The extra per-round job is driver overhead only.
        new = (
            labels.union(nb)
            .groupBy("u")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(
                eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
        )
        new_sum = new.agg(label_sum).collect()[0][0]
        labels = new
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    else:
        raise RuntimeError(
            f"dedup_cluster: no convergence in {CLUSTER_MAX_ITERS} rounds — "
            "pathological near-dup chain; switch to large-star/small-star"
        )
    sz = labels.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return labels.join(sz, "cluster_id").select(
        F.col("u").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        (F.col("u") == F.col("cluster_id")).alias("is_canonical"),
    )


Q_DEDUP_CLUSTER_SQL = f"""
WITH RECURSIVE
pairs AS ({Q_DEDUP_MINHASH_LSH_MD5_SQL}),
edges AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL
  SELECT b_id AS u, a_id AS v FROM pairs
),
nodes AS (SELECT CAST(doc_id AS BIGINT) AS u FROM documents),
reach(u, v) AS (
  SELECT u, u FROM nodes
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
),
lab AS (SELECT u, min(v) AS cluster_id FROM reach GROUP BY u),
sz AS (
  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
  FROM lab GROUP BY cluster_id
)
SELECT l.u AS doc_id, l.cluster_id, s.cluster_size,
       l.u = l.cluster_id AS is_canonical
FROM lab l JOIN sz s USING (cluster_id)
"""


SPECS: list[QuerySpec] = [
    QuerySpec("dedup_exact", "exact dedup via hash-groupBy",
              q_dedup_exact, Q_DEDUP_EXACT_SQL),
    QuerySpec("dedup_ngram_jaccard", "3-gram Jaccard exact pair baseline",
              q_dedup_ngram_jaccard, Q_DEDUP_NGRAM_JACCARD_SQL),
    QuerySpec("dedup_minhash_lsh", "MinHash+LSH scale path (rows-only)",
              q_dedup_minhash_lsh, None),
    QuerySpec("dedup_minhash_lsh_md5", "MinHash+LSH with cross-engine md5 "
              "hash family (full oracle)", q_dedup_minhash_lsh_md5,
              Q_DEDUP_MINHASH_LSH_MD5_SQL),
    QuerySpec("dedup_simhash", "SimHash fingerprints (production xxhash64 "
              "family; rows-only — md5 twin carries the oracle)",
              q_dedup_simhash, None),
    QuerySpec("dedup_simhash_md5", "SimHash oracle twin (cross-engine md5 "
              "family, full oracle)", q_dedup_simhash_md5,
              Q_DEDUP_SIMHASH_MD5_SQL),
    QuerySpec("dedup_embedding_cosine", "embedding cosine near-dup pairs",
              q_dedup_embedding_cosine, Q_DEDUP_EMBEDDING_COSINE_SQL),
    QuerySpec("dedup_embedding_lsh", "random-hyperplane LSH near-dup scale "
              "path (deterministic planes, full oracle)",
              q_dedup_embedding_lsh, Q_DEDUP_EMBEDDING_LSH_SQL),
    QuerySpec("dedup_cluster", "connected components over the LSH near-dup "
              "pair graph: cluster id + size + canonical keep/drop flag",
              q_dedup_cluster, Q_DEDUP_CLUSTER_SQL),
]
