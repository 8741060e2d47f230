"""Property tests for the non-SQL-expressible scale paths: MinHash+LSH
recall, SimHash locality, IVF recall vs brute force."""

from __future__ import annotations

SF_DIR = "/root/testdata/sf0.001"


def test_lsh_equals_exact_pairs(spark):
    """At jaccard ≥ 0.6 the planted near-dups sit at ≥ 0.9, where the
    8×4 band scheme has ~99.98% per-pair recall — LSH must return exactly
    the exact-baseline pair set (deterministic given murmur3)."""
    from radar_log_parser_spark.operators import dedup

    exact = {
        (r["a_id"], r["b_id"])
        for r in dedup.q_dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    lsh = {
        (r["a_id"], r["b_id"])
        for r in dedup.q_dedup_minhash_lsh(spark, SF_DIR).collect()
    }
    assert exact, "fixture should contain planted near-dup pairs"
    assert lsh == exact


def test_simhash_locality(spark):
    """Planted near-dup pairs land at low Hamming distance; random pairs
    center near 31/63 bits."""
    from radar_log_parser_spark.operators import dedup

    sh = {r["doc_id"]: r["simhash"] for r in dedup.q_dedup_simhash(spark, SF_DIR).collect()}
    pairs = [
        (r["a_id"], r["b_id"])
        for r in dedup.q_dedup_ngram_jaccard(spark, SF_DIR).collect()
    ]

    def ham(a: int, b: int) -> int:
        return bin((a ^ b) & ((1 << 63) - 1)).count("1")

    planted = [ham(sh[a], sh[b]) for a, b in pairs]
    assert planted and max(planted) <= 12

    import random

    rng = random.Random(1)
    ids = sorted(sh)
    rand = sorted(
        ham(sh[rng.choice(ids)], sh[rng.choice(ids)]) for _ in range(300)
    )
    assert rand[len(rand) // 2] >= 20


def test_ivf_recall(spark):
    """IVF probing 4 of ~20 cells must beat blind 20% sampling on recall
    of the exact top-k (measured 0.5 on this fixture)."""
    from radar_log_parser_spark.operators import similarity

    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.q_ann_topk_cosine(spark, SF_DIR).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.q_ann_ivf_topk(spark, SF_DIR).collect()
    }
    assert exact
    assert len(exact & ivf) / len(exact) >= 0.3


def test_media_feature_extraction(spark):
    """The multimodal plumbing: binary column → Arrow batch → features;
    histogram mass equals byte count."""
    from radar_log_parser_spark.operators import media

    tbl = media.media_table(spark, SF_DIR)
    feats = media.extract_features(tbl).limit(50).collect()
    assert feats
    for r in feats:
        assert r["n_bytes"] > 0
        assert sum(r["histogram16"]) == r["n_bytes"]
        assert 0 <= r["byte_entropy_milli"] <= 8000


def test_dedup_cluster_invariants(spark):
    """Connected-components correctness without re-deriving components in
    the test: (1) every verified near-dup pair shares a cluster, (2) each
    cluster's id is its min member (so labels are canonical, not arbitrary),
    (3) sizes partition the corpus, (4) exactly one canonical row per
    cluster. Value-level parity vs the recursive-CTE oracle is covered by
    check_entry / CORRECTNESS."""
    from radar_log_parser_spark.operators import dedup

    rows = dedup.q_dedup_cluster(spark, SF_DIR).collect()
    label = {r["doc_id"]: r["cluster_id"] for r in rows}
    pairs = dedup.q_dedup_minhash_lsh_md5(spark, SF_DIR).collect()
    assert pairs, "fixture should contain planted near-dup pairs"
    for p in pairs:
        assert label[p["a_id"]] == label[p["b_id"]]
    by_cluster: dict[int, list] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], []).append(r)
    assert sum(len(v) for v in by_cluster.values()) == len(rows)
    for cid, members in by_cluster.items():
        assert cid == min(m["doc_id"] for m in members)
        assert sum(m["is_canonical"] for m in members) == 1
        assert all(m["cluster_size"] == len(members) for m in members)
    assert any(len(v) > 1 for v in by_cluster.values())


def _jobs_run(spark, build, group):
    """Spark jobs started while `build()` runs, counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group, False)
    try:
        build()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_emb_lsh_build_runs_no_extra_jobs(spark):
    """Building `q_dedup_embedding_lsh` runs no more Spark jobs than reading
    the embeddings table does: nothing is collected to the driver or
    broadcast before an action is called."""
    from radar_log_parser_spark.operators import dedup

    read = _jobs_run(
        spark, lambda: spark.read.parquet(f"{SF_DIR}/embeddings.parquet"), "read-embeddings"
    )
    build = _jobs_run(
        spark, lambda: dedup.q_dedup_embedding_lsh(spark, SF_DIR), "build-emb-lsh"
    )
    assert build <= read, (build, read)
