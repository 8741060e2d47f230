"""Round-6 optimization internals: each test pins an operator rewrite to
the slower-but-obviously-correct form it replaced, on fresh data (not the
golden corpora), so a future regression in the optimized path cannot hide
behind the corpus the optimization was tuned on."""

from __future__ import annotations

import random
import re

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"
SF_DIR_MID = "/root/testdata/sf0.01"


def test_md5_hex15_boundary_parse_equals_conv(spark):
    """The projected-md5 shift-add parse (`md5_60`, behind a
    CollapseProject-proof boundary) must equal the conv-based reference
    on every shingle of the corpus — same function, different plan."""
    from radar_log_parser_spark.operators.dedup import (
        _shingled_docs,
        md5_60,
        shingle_strings_exploded,
    )

    ex = shingle_strings_exploded(_shingled_docs(spark, SF_DIR_MID)[1])
    fast = md5_60(ex, F.col("shingle"), "h")
    ref = ex.select(
        "doc_id",
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    agg = [
        F.count("*").alias("n"),
        F.sum(F.col("h").cast("decimal(38,0)")).alias("s"),
        F.min("h").alias("lo"),
        F.max("h").alias("hi"),
    ]
    a = fast.agg(*agg).collect()[0]
    b = ref.agg(*agg).collect()[0]
    assert a == b and a["n"] > 0


def test_minhash_string_verify_equals_struct_verify(spark):
    """The string-array Jaccard verify (r6b) and the struct-array form it
    replaced are bijective views of the same shingle sets: inter/uni must
    match pairwise over the full verified output."""
    from radar_log_parser_spark.operators import dedup
    from radar_log_parser_spark.operators.dedup import (
        JACCARD_DEN,
        JACCARD_NUM,
        LSH_BANDS,
        MINHASH_PERMS,
        _band_pairs,
        _shingled_docs,
        minhash_bands,
        shingle_strings_exploded,
        shingle_structs,
    )

    out = {
        (r["a_id"], r["b_id"]): (r["inter"], r["uni"])
        for r in dedup.q_dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    assert out, "fixture should contain near-dup pairs"

    _, base = _shingled_docs(spark, SF_DIR)
    cand = _band_pairs(minhash_bands(
        shingle_strings_exploded(base),
        lambda i: f"hash(shingle, {i})",
        MINHASH_PERMS,
        LSH_BANDS,
        "hash",
    ))
    sh = base.select("doc_id", shingle_structs().alias("sh"))
    a = sh.select(F.col("doc_id").alias("a_id"), F.col("sh").alias("a_sh"))
    b = sh.select(F.col("doc_id").alias("b_id"), F.col("sh").alias("b_sh"))
    inter = F.size(F.array_intersect("a_sh", "b_sh"))
    uni = F.size("a_sh") + F.size("b_sh") - inter
    ref = {
        (r["a_id"], r["b_id"]): (r["inter"], r["uni"])
        for r in cand.join(a, "a_id")
        .join(b, "b_id")
        .select(
            "a_id", "b_id",
            inter.cast("long").alias("inter"),
            uni.cast("long").alias("uni"),
        )
        .filter(F.col("inter") * JACCARD_DEN >= JACCARD_NUM * F.col("uni"))
        .collect()
    }
    assert out == ref


def test_emb_bucket_kernel_equals_join_form(spark):
    """The per-bucket applyInArrow kernel (pair generation + first-band
    dedup + cosine verify in numpy) must reproduce the band equi-join +
    first-band filter + JVM-fold verify EXACTLY — pair set AND every
    rounded cosine — on the sf0.01 embeddings."""
    from radar_log_parser_spark.operators import dedup
    from radar_log_parser_spark.operators.dedup import (
        COSINE_THRESHOLD,
        EMB_LSH_BANDS,
        EMB_LSH_BITS,
        _dot,
        _emb_sig_map,
        _norm_col,
        _read_par,
    )

    out = {
        (r["a_id"], r["b_id"]): r["cos"]
        for r in dedup.q_dedup_embedding_lsh(spark, SF_DIR_MID).collect()
    }
    assert out, "sf0.01 should contain qualifying near-dup pairs"

    # reference: the pre-r6b join form (narrow sig entries, first-band
    # filter, broadcast attach, interpreted fold verify)
    emb = _read_par(spark, f"{SF_DIR_MID}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    sigs = emb.mapInArrow(
        _emb_sig_map, "vec_id long, sig long, embedding array<float>"
    ).select("vec_id", "sig")
    nibbles = F.array(*[
        F.shiftright("sig", EMB_LSH_BITS * t)
        .bitwiseAND(F.lit((1 << EMB_LSH_BITS) - 1))
        .cast("int")
        for t in range(EMB_LSH_BANDS)
    ])
    entries = sigs.select(
        "vec_id", "sig", F.posexplode(nibbles).alias("band", "key")
    )
    a = entries.alias("a")
    b = entries.alias("b")
    x = F.col("a.sig").bitwiseXOR(F.col("b.sig"))
    first_band = F.lit(True)
    for t in range(EMB_LSH_BANDS - 1):
        first_band = first_band & (
            (F.col("a.band") <= t)
            | (
                F.shiftright(x, EMB_LSH_BITS * t)
                .bitwiseAND(F.lit((1 << EMB_LSH_BITS) - 1))
                != 0
            )
        )
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(first_band)
        .select(F.col("a.vec_id").alias("a_id"), F.col("b.vec_id").alias("b_id"))
    )
    withnrm = emb.select(
        "vec_id", "embedding", _norm_col(F.col("embedding")).alias("nrm")
    )
    va = withnrm.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    vb = withnrm.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    cos = _dot(F.col("a_emb"), F.col("b_emb")) / (F.col("a_nrm") * F.col("b_nrm"))
    ref = {
        (r["a_id"], r["b_id"]): r["cos"]
        for r in cand.join(F.broadcast(va), "a_id")
        .join(F.broadcast(vb), "b_id")
        .filter(cos >= F.lit(COSINE_THRESHOLD - 1e-6))
        .select("a_id", "b_id", F.round(cos, 6).alias("cos"))
        .filter(F.col("cos") >= COSINE_THRESHOLD)
        .collect()
    }
    assert out == ref


def test_emb_bucket_kernel_blocking_invariant():
    """The kernel's row-block tiling must not change the emitted set: run
    the same synthetic bucket at several block sizes (forced via bucket
    size k) and check pair/cos equality against a plain O(k²) loop."""
    import numpy as np
    import pyarrow as pa

    from radar_log_parser_spark.operators.dedup import (
        EMB_LSH_BITS,
        _emb_bucket_verify_factory,
    )

    rng = random.Random(0xBEEF)
    k, d = 700, 16  # k chosen so block = 2^15 // 700 = 46 → many blocks
    ids = sorted(rng.sample(range(10_000), k))
    E = np.array(  # float32 values, as the embedding column holds them
        [[rng.gauss(0, 1) for _ in range(d)] for _ in range(k)],
        dtype=np.float32,
    ).astype(np.float64)
    sig = np.array([rng.randrange(1 << 32) for _ in range(k)], dtype=np.int64)
    band = 3
    thr = 0.2

    # rows in descending vec_id order: the kernel sorts them, vectors included
    tbl = pa.table({
        "vec_id": pa.array(np.array(ids[::-1], dtype=np.int64)),
        "sig": pa.array(sig[::-1]),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (k + 1) * d, d, dtype=np.int32)),
            pa.array(E[::-1].ravel().astype(np.float32)),
        ),
        "band": pa.array([band] * k, pa.int32()),
        "key": pa.array([7] * k, pa.int32()),
    })
    got = _emb_bucket_verify_factory(thr)(tbl)
    got_set = {
        (a, b): c
        for a, b, c in zip(
            got.column("a_id").to_pylist(),
            got.column("b_id").to_pylist(),
            got.column("cos_raw").to_pylist(),
        )
    }

    # brute force with the identical left-fold arithmetic
    nrm2 = np.zeros(k)
    for i in range(d):
        nrm2 = nrm2 + E[:, i] * E[:, i]
    nrm = np.sqrt(nrm2)
    mask = (1 << EMB_LSH_BITS) - 1
    want = {}
    for i in range(k):
        for j in range(i + 1, k):
            xv = int(sig[i]) ^ int(sig[j])
            if any(
                ((xv >> (EMB_LSH_BITS * t)) & mask) == 0 for t in range(band)
            ):
                continue
            acc = 0.0
            for q in range(d):
                acc = acc + E[i, q] * E[j, q]
            c = acc / (nrm[i] * nrm[j])
            if c >= thr:
                want[(ids[i], ids[j])] = c
    assert set(got_set) == set(want)
    for key_, c in want.items():
        assert got_set[key_] == c  # bit-identical, not approx


def test_emb_sig_kernel_equals_jvm_fold(spark):
    """`_emb_sig_map`'s signature bit j must equal the JVM left fold
    `aggregate(zip_with(embedding, plane_j, x*y), 0.0, +) >= 0` for every
    sf0.01 vector. The bucket-kernel tests take their signatures from the
    kernel itself, so this is the one check of the signature."""
    from radar_log_parser_spark.operators.dedup import EMB_PLANES, _dot, _emb_sig_map

    emb = spark.read.parquet(f"{SF_DIR_MID}/embeddings.parquet").select(
        F.col("vec_id").cast("long").alias("vec_id"), "embedding"
    )
    got = {
        r["vec_id"]: r["sig"]
        for r in emb.mapInArrow(
            _emb_sig_map, "vec_id long, sig long, embedding array<float>"
        ).select("vec_id", "sig").collect()
    }
    planes = spark.createDataFrame(
        list(enumerate(EMB_PLANES)), "j int, plane array<double>"
    )
    want = {r["vec_id"]: 0 for r in emb.select("vec_id").collect()}
    for r in (
        emb.crossJoin(F.broadcast(planes))
        .filter(_dot(F.col("embedding"), F.col("plane")) >= 0)
        .select("vec_id", "j")
        .collect()
    ):
        want[r["vec_id"]] |= 1 << r["j"]
    assert got == want and len(got) == 500


def test_simhash_packed_equals_bit_expansion(spark):
    """The packed per-bit-count aggregation must reproduce the r5 60-row
    ±1-vote broadcast expansion exactly (both hash families share
    _simhash_from_hashes; xxhash64 checked here — md5 twin has the
    DuckDB oracle)."""
    from radar_log_parser_spark.operators import dedup
    from radar_log_parser_spark.operators.dedup import (
        SIMHASH_BITS,
        _shingled_docs,
        shingle_strings_exploded,
    )

    docs, base = _shingled_docs(spark, SF_DIR)
    hb = shingle_strings_exploded(base).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )

    bits = spark.range(SIMHASH_BITS).select(F.col("id").cast("int").alias("bit"))
    votes = hb.crossJoin(F.broadcast(bits)).select(
        "doc_id", "bit",
        F.when(F.expr("(shiftright(h, bit) & 1) = 1"), F.lit(1))
        .otherwise(F.lit(-1))
        .alias("vote"),
    )
    per_bit = votes.groupBy("doc_id", "bit").agg(F.sum("vote").alias("v"))
    sim = per_bit.groupBy("doc_id").agg(
        F.sum(
            F.when(
                F.col("v") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), bit)")
            ).otherwise(F.lit(0).cast("long"))
        ).alias("simhash")
    )
    ref = {
        r["doc_id"]: r["simhash"]
        for r in docs.select("doc_id")
        .join(sim, "doc_id", "left")
        .select("doc_id", F.coalesce("simhash", F.lit(0)).alias("simhash"))
        .collect()
    }
    got = {
        r["doc_id"]: r["simhash"]
        for r in dedup.q_dedup_simhash(spark, SF_DIR).collect()
    }
    assert got == ref and got


def ivf_assignments(emb, centroids):
    """The IVF kernel's JVM reference: assign every vector to its nearest
    centroid (max cosine) with a broadcast join and a `max_by` argmax,
    min cell on ties. The production query runs `_ivf_assign_factory`
    instead: these interpreted n×K `_dot` folds, with the embedding
    riding every scored row, were most of the IVF query's time."""
    from radar_log_parser_spark.operators.dedup import _dot

    cos = _dot(F.col("embedding"), F.col("c_emb")) / (F.col("nrm") * F.col("c_nrm"))
    scored = emb.join(F.broadcast(centroids)).select(
        "vec_id", "embedding", "nrm", "cell", cos.alias("cos")
    )
    return scored.groupBy("vec_id").agg(
        F.max_by("cell", F.struct(F.col("cos"), (-F.col("cell")).alias("nc"))).alias("cell"),
        F.first("embedding").alias("embedding"),
        F.first("nrm").alias("nrm"),
    )


def test_ivf_assign_kernel_equals_jvm_twin(spark):
    """The vectorized nearest-centroid kernel must reproduce the JVM
    broadcast-join + max_by argmax assignment for EVERY vector (cells,
    pass-through embeddings, and the fold-computed norms)."""
    from radar_log_parser_spark.operators.logquery import _read_par
    from radar_log_parser_spark.operators.similarity import (
        _emb,
        _ivf_assign_factory,
        collect_centroids,
        ivf_centroids,
    )

    sf = SF_DIR_MID
    emb = _emb(spark, sf)
    cent = ivf_centroids(emb)
    ref = {
        r["vec_id"]: (r["cell"], r["nrm"])
        for r in ivf_assignments(emb, cent).select("vec_id", "cell", "nrm").collect()
    }
    bc = spark.sparkContext.broadcast(collect_centroids(cent))
    got = {
        r["vec_id"]: (r["cell"], r["nrm"])
        for r in _read_par(spark, f"{sf}/embeddings.parquet")
        .select(F.col("vec_id").cast("long").alias("vec_id"), "embedding")
        .mapInArrow(
            _ivf_assign_factory(bc),
            "vec_id long, cell long, embedding array<float>, nrm double",
        )
        .select("vec_id", "cell", "nrm")
        .collect()
    }
    assert got == ref and len(got) == 500  # nrm compared EXACTLY, not approx


def test_simhash_overflow_guard(spark):
    """A document over the shingle cap must fail via the NAMED guard —
    not a generic ANSI ARITHMETIC_OVERFLOW from the packed sums (the r6a
    16-bit field layout overflowed the aggregate itself from 2^15
    shingles up, before its guard could fire; the 21-bit layout keeps
    sums in-long well past the cap)."""
    from radar_log_parser_spark.operators.dedup import (
        _SIMHASH_MAX_SHINGLES,
        _simhash_from_hashes,
    )

    docs = spark.range(1).select(F.col("id").alias("doc_id"))
    hb = spark.range(_SIMHASH_MAX_SHINGLES + 1).select(
        F.lit(0).cast("long").alias("doc_id"), F.xxhash64("id").alias("h")
    )
    with pytest.raises(Exception, match="packed-count overflow"):
        _simhash_from_hashes(docs, hb).collect()


def test_simhash_guard_fires_before_sum_overflow(spark):
    """From 2^21 shingles of an all-ones hash the packed sums pass
    2^63 − 1: the named guard must still be the error raised, not ANSI's
    generic ARITHMETIC_OVERFLOW from the aggregate."""
    from radar_log_parser_spark.operators.dedup import _simhash_from_hashes

    docs = spark.range(1).select(F.col("id").alias("doc_id"))
    hb = spark.range((1 << 21) + 1).select(
        F.lit(0).cast("long").alias("doc_id"),
        F.lit((1 << 60) - 1).cast("long").alias("h"),
    )
    with pytest.raises(Exception, match="packed-count overflow"):
        _simhash_from_hashes(docs, hb).collect()


def test_simhash_packed_sum_safe_below_cap(spark):
    """Just-under-cap documents must COMPUTE (the r6a layout ANSI-aborted
    from half its nominal capacity); spot-check the fingerprint against
    a driver-side majority over the same hashes."""
    from radar_log_parser_spark.operators.dedup import (
        SIMHASH_BITS,
        _simhash_from_hashes,
    )

    n = 40_000  # would ARITHMETIC_OVERFLOW under the 16-bit field layout
    docs = spark.range(1).select(F.col("id").alias("doc_id"))
    hb = spark.range(n).select(
        F.lit(0).cast("long").alias("doc_id"), F.xxhash64("id").alias("h")
    )
    got = _simhash_from_hashes(docs, hb).collect()[0]["simhash"]
    hs = [r["h"] for r in hb.select("h").collect()]
    want = 0
    for bit in range(SIMHASH_BITS):
        votes = sum(1 if (h >> bit) & 1 else -1 for h in hs)
        if votes > 0:
            want |= 1 << bit
    assert got == want


# --- the Column-API forms of dedup's SQL-text builders ----------------------
# dedup.py writes these expressions as SQL text (one parse instead of a Py4J
# round trip per expression node); the Column forms below are what the text
# replaced, kept to pin that both analyze to the same optimized plans.
def md5_60_columns(df, src, name):
    m = F.col(name)
    acc = None
    for i in range(1, 16):
        a = F.ascii(F.substring(m, i, 1))
        d = F.when(a >= 97, a - 87).otherwise(a - 48).cast("long")
        acc = d if acc is None else F.shiftleft(acc, 4) + d
    return df.withColumn(name, F.md5(src)).withColumn(name, acc)


def md5_perm_columns(i):
    from radar_log_parser_spark.operators.dedup import MD5_LINEAR, MD5_LO_MASK, MD5_P

    a, b, c = MD5_LINEAR[i]
    hi = F.shiftright(F.col("h"), 30)
    lo = F.col("h").bitwiseAND(F.lit(MD5_LO_MASK))
    return (F.lit(a) * hi + F.lit(b) * lo + F.lit(c)) % F.lit(MD5_P)


# the Column perm and band key of each MinHash family, by its SQL band key
MINHASH_FAMILY_COLUMNS = {
    "hash": (lambda i: F.hash("shingle", F.lit(i)), F.hash),
    "array": (md5_perm_columns, F.array),
}


def minhash_bands_columns(hashed, _perm_sql, perms, bands, band_key):
    perm, key = MINHASH_FAMILY_COLUMNS[band_key]
    wide = hashed.groupBy("doc_id").agg(
        *[F.min(perm(i)).alias(f"h{i}") for i in range(perms)]
    )
    rows_per_band = perms // bands
    return wide.select(
        "doc_id",
        F.posexplode(
            F.array(*[
                key(*[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)])
                for b in range(bands)
            ])
        ).alias("band", "bh"),
    )


def simhash_from_hashes_columns(docs, hb):
    from radar_log_parser_spark.operators.dedup import (
        _SIMHASH_FIELD_BITS,
        _SIMHASH_FIELDS,
        _SIMHASH_MAX_SHINGLES,
        _SIMHASH_PACKS,
    )

    packs = []
    for j in range(_SIMHASH_PACKS):
        p = None
        for k in range(_SIMHASH_FIELDS):
            bit = (
                F.shiftright(F.col("h"), _SIMHASH_FIELDS * j + k)
                .bitwiseAND(F.lit(1))
                .cast("long")
            )
            term = F.shiftleft(bit, _SIMHASH_FIELD_BITS * k)
            p = term if p is None else p + term
        packs.append(p)
    wide = hb.groupBy("doc_id").agg(
        F.count("*").alias("nsh"),
        *[F.try_sum(packs[j]).alias(f"p{j}") for j in range(_SIMHASH_PACKS)],
    )
    bitsum = None
    for j in range(_SIMHASH_PACKS):
        for k in range(_SIMHASH_FIELDS):
            cnt = F.shiftright(F.col(f"p{j}"), _SIMHASH_FIELD_BITS * k).bitwiseAND(
                F.lit((1 << _SIMHASH_FIELD_BITS) - 1)
            )
            term = (
                F.when(cnt * 2 > F.col("nsh"), F.lit(1 << (_SIMHASH_FIELDS * j + k)).cast("long"))
                .otherwise(F.lit(0).cast("long"))
            )
            bitsum = term if bitsum is None else bitsum + term
    sim = wide.select(
        "doc_id",
        F.when(
            F.col("nsh") > _SIMHASH_MAX_SHINGLES,
            F.raise_error(
                F.lit(
                    "simhash packed-count overflow: a document carries more "
                    f"than {_SIMHASH_MAX_SHINGLES} distinct shingles; "
                    "re-shard the document upstream"
                )
            ).cast("long"),
        )
        .otherwise(bitsum)
        .alias("simhash"),
    )
    return docs.select("doc_id").join(sim, "doc_id", "left").select(
        "doc_id", F.coalesce("simhash", F.lit(0).cast("long")).alias("simhash")
    )


def optimized_plan(df) -> str:
    """The optimized logical plan with expression ids and lambda variable
    numbers stripped: both count up per session, not per plan."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"(lambda [a-z]+_)\d+", r"\1", re.sub(r"#\d+L?", "#", plan))


@pytest.mark.parametrize("name", [
    "dedup_simhash", "dedup_simhash_md5", "dedup_minhash_lsh",
    "dedup_minhash_lsh_md5", "ann_ivf_topk", "dedup_cluster",
])
def test_sql_text_builders_keep_the_column_plans(spark, monkeypatch, name):
    """Every query built on the SQL-text `_simhash_from_hashes`,
    `minhash_bands` (and its perms) and `md5_60` has the optimized plan of
    the same query built on their Column-API forms above, untruncated."""
    import __spark_entry__ as entry

    from radar_log_parser_spark.operators import dedup, similarity

    build = entry.queries()[name]
    spark.conf.set("spark.sql.debug.maxToStringFields", "100000")
    try:
        got = optimized_plan(build(spark, SF_DIR))
        monkeypatch.setattr(dedup, "md5_60", md5_60_columns)
        monkeypatch.setattr(similarity, "md5_60", md5_60_columns)
        monkeypatch.setattr(dedup, "minhash_bands", minhash_bands_columns)
        monkeypatch.setattr(dedup, "_simhash_from_hashes", simhash_from_hashes_columns)
        want = optimized_plan(build(spark, SF_DIR))
    finally:
        spark.conf.unset("spark.sql.debug.maxToStringFields")
    assert "more fields" not in got
    assert got == want
