"""Similarity search over an embedding column (array<float>):
brute-force cosine top-k (exact baseline) and an IVF-partitioned variant
(the scale path: route each query to a few centroid cells instead of
scanning all 10^12 vectors).

Vector math is the left fold of `dedup._dot`: JVM-side `F.zip_with` +
`F.aggregate`, and its bit-identical numpy twin `dedup.fold_dots` in the
IVF assignment kernel.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from radar_log_parser_spark.operators.dedup import (
    _dot,
    _norm_col,
    f64_rows,
    fold_dots,
    fold_norms,
    md5_60,
)
from radar_log_parser_spark.operators.logquery import QuerySpec, _read_par

TOP_K = 5
N_QUERIES = 8  # vec_id < 8 are the query set
IVF_K = 64  # FIXED centroid count — the broadcast is O(K), never O(n)
IVF_PROBES = 4


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # layout-adaptive fan-out BEFORE the per-vector math: the dot/norm
    # folds are per-row expensive, and a low-row-group source would run
    # them on one scan task (see logquery._read_par)
    return _read_par(spark, f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"),
        "embedding",
        _norm_col(F.col("embedding")).alias("nrm"),
    )


def q_ann_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast the (tiny) query set against the
    full vector table, rank per query by cosine desc with vec_id tiebreak.
    Output is integral (query_id, rank, neighbor_id) — no float columns."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    cand = emb.select(
        F.col("vec_id").alias("neighbor_id"), "embedding", "nrm"
    )
    cos = _dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    scored = (
        cand.join(F.broadcast(queries), F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos.alias("cos"))
    )
    w = W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id")
    )


Q_ANN_TOPK_SQL = f"""
WITH emb AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(q.embedding, c.embedding),
           p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))) / (q.nrm*c.nrm) AS cos
  FROM emb q JOIN emb c ON q.vec_id < {N_QUERIES} AND c.vec_id <> q.vec_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {TOP_K}
"""


def ivf_centroids(emb: DataFrame, k: int = IVF_K) -> DataFrame:
    """K deterministic centroid seeds: the k vectors with the smallest
    md5-hash of vec_id — a uniform hash-sample whose size is FIXED at k no
    matter the table size (the previous every-Nth-vector seeding made the
    centroid set O(n): an unbounded broadcast and an n×n/N assignment
    join). orderBy+limit compiles to TakeOrderedAndProject: one scan with
    per-partition top-k, k rows to the driver."""
    # `seed` is a deterministic uniform sample key computable
    # bit-identically in DuckDB — the dedup operators' cross-engine md5
    # family (`md5_60`), which is what gives the IVF query a full oracle
    # row (r3: rows-only).
    # This window ranks exactly k (=64) rows — bounded by the limit(k)
    # above, never by table size. The partition key pmod(vec_id, 1) is
    # constant-valued but NOT constant-foldable, so WindowExec sees a real
    # partition spec instead of warning about an undefined one (r3's
    # partitionBy(lit(0)) was folded away — verified; the warning stayed)
    return (
        md5_60(emb, F.col("vec_id").cast("string"), "seed")
        .orderBy("seed", "vec_id")
        .limit(k)
        .select(
            F.row_number()
            .over(
                W.partitionBy(F.pmod(F.col("vec_id"), F.lit(1))).orderBy(
                    "seed", "vec_id"
                )
            )
            .cast("long")
            .alias("cell"),
            F.col("embedding").alias("c_emb"),
            F.col("nrm").alias("c_nrm"),
        )
    )


def collect_centroids(centroids: DataFrame):
    """The K-row centroid table on the driver, cell-ascending (the assign
    kernel's argmax tiebreak relies on this order): (cells, C, c_nrm), C
    the (K, d) float64 centroid matrix."""
    crows = centroids.orderBy("cell").toArrow()
    return (
        crows.column("cell").to_numpy(zero_copy_only=False),
        f64_rows(crows.column("c_emb")),
        crows.column("c_nrm").to_numpy(zero_copy_only=False),
    )


def _ivf_assign_factory(cent_bc):
    """Vectorized nearest-centroid assignment (mapInArrow, guide §4.2):
    one kernel call scores a whole batch against the K-row broadcast
    centroid matrix and emits (vec_id, cell, embedding, nrm) — the
    embedding column passes through the kernel untouched (original
    float32 values), so no re-attach join is needed downstream.

    Bit-identity with the JVM form, a broadcast join of the centroids
    and a `max_by` argmax (`tests/test_round6.py::ivf_assignments`): the
    batch-vs-centroid dots are `fold_dots` and the vector norms
    `fold_norms` (the left folds of `_dot` and `_norm_col`, see
    `dedup.fold_dots`), and the centroid norms are the COLLECTED c_nrm
    doubles the JVM fold already computed. The argmax tiebreak is
    preserved exactly: `max_by(cell, struct(cos, -cell))` picks max cos
    then MIN cell among exact-double ties; the centroid columns are
    ordered by cell ascending, and np.argmax returns the FIRST maximal
    column — the same min-cell winner (ties only occur on bit-equal
    cosines, which both sides compute identically)."""
    def _assign(it):
        cells, C, cn = cent_bc.value  # cell-ascending; C: (K, d) float64
        for batch in it:
            E = f64_rows(batch.column("embedding"))
            en = fold_norms(E)
            cos = fold_dots(E, C) / np.multiply.outer(en, cn)
            best = cos.argmax(axis=1)  # first max ⟺ min cell on ties
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id"), pa.array(cells[best]),
                 batch.column("embedding"), pa.array(en)],
                ["vec_id", "cell", "embedding", "nrm"],
            )
    return _assign


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k (scale path): K hash-sampled centroid seeds, assign
    vectors to cells, probe the IVF_PROBES nearest cells per query, rank
    within probed candidates. Full DuckDB oracle (the md5 seed family and
    left-fold dot products are bit-identical cross-engine); pytest
    additionally measures recall vs the exact top-k.

    Eager driver collect: building the DataFrame, not collecting it, runs
    Spark jobs that compute the centroids and pull them to the driver
    (`toArrow()`) for a broadcast, so the driver holds a K×d float64
    matrix (K = IVF_K cells) before any action is called."""
    emb = _emb(spark, sf_dir)
    centroids = ivf_centroids(emb)
    # assignment via the vectorized kernel (see _ivf_assign_factory): the
    # K-row centroid table is collected once (cell-ascending — kernel
    # argmax tiebreak relies on this order) and broadcast; the n×K
    # scoring never exists as Spark rows. Its JVM twin, which pytest pins
    # the kernel against, is tests/test_round6.py::ivf_assignments.
    cent_bc = spark.sparkContext.broadcast(collect_centroids(centroids))
    assigned = _read_par(spark, f"{sf_dir}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    ).mapInArrow(
        _ivf_assign_factory(cent_bc),
        "vec_id long, cell long, embedding array<float>, nrm double",
    )

    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    qcos = _dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_nrm") * F.col("c_nrm"))
    qw = W.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("cell"))
    probed = (
        queries.join(F.broadcast(centroids))
        .select("query_id", "q_emb", "q_nrm", "cell", qcos.alias("qcos"))
        .withColumn("rn", F.row_number().over(qw))
        .filter(F.col("rn") <= IVF_PROBES)
        .drop("rn", "qcos")
    )
    cos = _dot(F.col("q_emb"), F.col("embedding")) / (F.col("q_nrm") * F.col("nrm"))
    cand = probed.join(assigned, "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    return (
        cand.select("query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cos"))
        .withColumn("rank", F.row_number().over(
            W.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
        ))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", F.col("rank").cast("long").alias("rank"), "neighbor_id")
    )


_DOT_SQL = (
    "list_sum(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))"
)
_SEED_SQL = "('0x' || substr(md5(vec_id::VARCHAR), 1, 15))::BIGINT"

Q_ANN_IVF_SQL = f"""
WITH emb AS (
  SELECT CAST(vec_id AS BIGINT) AS vec_id, embedding,
         sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE)))) AS nrm
  FROM embeddings
),
cent AS (
  SELECT row_number() OVER (ORDER BY {_SEED_SQL}, vec_id) AS cell,
         embedding AS c_emb, nrm AS c_nrm
  FROM emb ORDER BY {_SEED_SQL}, vec_id LIMIT {IVF_K}
),
scored AS (
  SELECT e.vec_id, e.embedding, e.nrm, c.cell,
         {_DOT_SQL.format(a='e.embedding', b='c.c_emb')} / (e.nrm * c.c_nrm) AS cos
  FROM emb e CROSS JOIN cent c
),
assigned AS (
  SELECT vec_id, embedding, nrm, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, cell ASC) AS rn
    FROM scored
  ) WHERE rn = 1
),
queries AS (
  SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_nrm
  FROM emb WHERE vec_id < {N_QUERIES}
),
probed AS (
  SELECT query_id, q_emb, q_nrm, cell FROM (
    SELECT q.query_id, q.q_emb, q.q_nrm, c.cell,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             {_DOT_SQL.format(a='q.q_emb', b='c.c_emb')} / (q.q_nrm * c.c_nrm) DESC,
             c.cell ASC) AS rn
    FROM queries q CROSS JOIN cent c
  ) WHERE rn <= {IVF_PROBES}
),
cand AS (
  SELECT p.query_id, a.vec_id AS neighbor_id,
         {_DOT_SQL.format(a='p.q_emb', b='a.embedding')} / (p.q_nrm * a.nrm) AS cos
  FROM probed p JOIN assigned a USING (cell)
  WHERE a.vec_id <> p.query_id
)
SELECT query_id, CAST(rank AS BIGINT) AS rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM cand
) WHERE rank <= {TOP_K}
"""

SPECS: list[QuerySpec] = [
    QuerySpec("ann_topk_cosine", "brute-force cosine top-k baseline",
              q_ann_topk_cosine, Q_ANN_TOPK_SQL),
    QuerySpec("ann_ivf_topk", "IVF-partitioned top-k scale path "
              "(cross-engine md5 seeds, full oracle)",
              q_ann_ivf_topk, Q_ANN_IVF_SQL),
]
