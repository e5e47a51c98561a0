"""Behavioral tests for the LLM-pipeline operators (§2c) — semantics the
oracle can't check: approximate-op recall, stub gating, determinism.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.operators.dedup import (
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
)
from spark_kafka_streaming_spark.operators.multimodal import (
    attach_payload,
    decode_image,
    extract_features,
    frame_sample_plan,
)
from spark_kafka_streaming_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
)
from spark_kafka_streaming_spark.sources.batch import load_table


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    """Every exact-Jaccard ≥0.8 pair must be recalled by MinHash-LSH at
    threshold 0.5 (8 bands × 4 rows ⇒ P[miss | j=0.8] ≈ (1-0.8⁴)^8 ≈ 3%,
    and the generator's planted dups are ≫0.8)."""
    docs = load_table(spark, sf_dir, "documents")
    exact = {
        (r.id1, r.id2)
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    lsh = {
        (r.id1, r.id2)
        for r in minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert exact, "generator should plant near-dup documents"
    missed = exact - lsh
    assert len(missed) <= max(1, len(exact) // 10), f"LSH missed {missed}"


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    """Hyperplane-LSH ANN recall, two geometries:

    * PINNED 6 planes (the documented weak-similarity operating point):
      multi-probe recalls most of the true top-5 and single-probe
      clears the historical absolute bar.
    * ADAPTIVE default (corpus-derived, 9 planes at this corpus —
      tuned for bounded candidate mass, not weak-threshold recall):
      recall is lower by design but must stay non-degenerate, with
      single-probe never beating multi-probe."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(q, emb, k=5).collect()
    }

    def rec(**kw):
        got = {
            (r.query_id, r.neighbor_id)
            for r in lsh_topk(q, emb, k=5, **kw).collect()
        }
        return len(truth & got) / len(truth)

    multi6 = rec(n_planes=6)
    single6 = rec(n_planes=6, multi_probe=False)
    assert multi6 >= 0.55, f"multi-probe ANN recall collapsed: {multi6}"
    assert single6 >= 0.2, f"ANN recall collapsed: {single6}"
    multi_d = rec()
    single_d = rec(multi_probe=False)
    assert 0 < single_d <= multi_d, (single_d, multi_d)
    assert multi_d >= 0.2, f"adaptive-key recall degenerate: {multi_d}"


def test_bruteforce_topk_self_excluded_and_ranked(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    out = brute_force_topk(emb.filter(F.col("vec_id") < 3), emb, k=5).collect()
    by_q = {}
    for r in out:
        assert r.query_id != r.neighbor_id
        by_q.setdefault(r.query_id, []).append((r.rn, r.cos_sim))
    for q, rows in by_q.items():
        rows.sort()
        sims = [s for _, s in rows]
        assert sims == sorted(sims, reverse=True), "rank order broken"
        assert len(rows) == 5


def test_multimodal_codec_roundtrip():
    """decode_image really decodes pixels: PPM/PGM/BMP round-trip to
    the exact source array; unknown magic raises ValueError."""
    import numpy as np

    from spark_kafka_streaming_spark.operators.multimodal import (
        encode_bmp,
        encode_ppm,
    )

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(5, 7, 3), dtype=np.uint8)
    assert (decode_image(encode_ppm(arr)) == arr).all()
    assert (decode_image(encode_bmp(arr)) == arr).all()
    # ascii PPM with a header comment
    flat = " ".join(str(v) for v in arr.reshape(-1))
    p3 = f"P3\n# fixture\n7 5\n255\n{flat}\n".encode()
    assert (decode_image(p3) == arr).all()
    # grayscale PGM replicates to 3 channels
    g = rng.integers(0, 256, size=(3, 4), dtype=np.uint8)
    p5 = b"P5\n4 3\n255\n" + g.tobytes()
    assert (decode_image(p5) == np.repeat(g[:, :, None], 3, axis=2)).all()
    with pytest.raises(ValueError):
        decode_image(b"\x89PNG\r\n\x1a\n")


def test_multimodal_image_features_end_to_end(spark):
    """image_features decodes real pixels inside mapInPandas: the
    per-channel means match numpy exactly; a corrupt payload maps to
    NULL dimensions instead of failing the batch."""
    import numpy as np

    from spark_kafka_streaming_spark.operators.multimodal import (
        encode_bmp,
        encode_ppm,
        image_features,
    )

    rng = np.random.default_rng(11)
    imgs = {i: rng.integers(0, 256, size=(6, 9, 3), dtype=np.uint8) for i in range(4)}
    rows = [
        (0, bytearray(encode_ppm(imgs[0]))),
        (1, bytearray(encode_bmp(imgs[1]))),
        (2, bytearray(encode_ppm(imgs[2]))),
        (3, bytearray(b"not an image")),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, payload binary")
    got = {r["doc_id"]: r for r in image_features(df).collect()}
    for i in (0, 1, 2):
        exp = imgs[i].reshape(-1, 3).mean(axis=0)
        assert (got[i]["width"], got[i]["height"]) == (9, 6)
        for ch, name in enumerate(("mean_r", "mean_g", "mean_b")):
            assert abs(got[i][name] - exp[ch]) < 1e-9
    assert got[3]["width"] is None


def test_multimodal_payload_and_features_deterministic(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(20)
    with_payload = attach_payload(docs, "text")
    row = with_payload.select("meta.n_bytes", "meta.sha256").first()
    assert row["n_bytes"] > 0 and len(row["sha256"]) == 64
    f1 = {
        r.doc_id: tuple(r.features)
        for r in extract_features(with_payload.select("doc_id", "payload")).collect()
    }
    f2 = {
        r.doc_id: tuple(r.features)
        for r in extract_features(with_payload.select("doc_id", "payload")).collect()
    }
    assert f1 == f2 and all(len(v) == 8 for v in f1.values())


def test_frame_sample_plan_explodes_frames(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text").limit(5)
    frames = frame_sample_plan(attach_payload(docs, "text"), every_n=1)
    rows = frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    assert all(r.n >= 1 for r in rows)


def test_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF ANN (with 2-way corpus replication) recalls nearly all of the
    true top-5 while probing only n_probe/n_cells of the corpus."""
    from spark_kafka_streaming_spark.operators.similarity import ivf_topk
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in ivf_topk(q, emb, k=5, n_cells=16, n_probe=4).collect()
    }
    recall = len(truth & approx) / len(truth)
    assert recall >= 0.8, f"IVF recall collapsed: {recall}"


def test_embedding_lsh_dedup_recall(spark, sf_dir):
    """LSH-bucketed embedding dedup finds a usable share of the exact
    cosine>=0.45 pairs (weak-similarity regime; near-dup corpora with
    cos>=0.9 pairs see recall ~1)."""
    from spark_kafka_streaming_spark.operators.similarity import cosine_dup_pairs
    from spark_kafka_streaming_spark.functions import vectors as V
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.select(
        "vec_id",
        F.expr(V.spark_scaled("embedding")).alias("v"),
        F.expr(V.spark_dot(V.spark_scaled("embedding"), V.spark_scaled("embedding"))).alias("n"),
    )
    a, b = base.alias("a"), base.alias("b")
    cos = F.expr(V.spark_cosine(V.spark_dot("a.v", "b.v"), "a.n", "b.n"))
    exact = {
        (r.id1, r.id2)
        for r in a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("id1"), F.col("b.vec_id").alias("id2"),
                cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.45)
        .collect()
    }
    approx = {
        (r.id1, r.id2) for r in cosine_dup_pairs(emb, threshold=0.45).collect()
    }
    assert approx <= exact, "LSH must not invent pairs (verify step broken)"
    if exact:
        assert len(approx) / len(exact) >= 0.2


def test_ivf_kmeans_refine_deterministic_and_usable(spark, sf_dir):
    """Lloyd refinement keeps centroids in the scaled-integer space,
    is reproducible (exact sums + rounded division), and the refined
    index still recalls well."""
    from spark_kafka_streaming_spark.operators.similarity import ivf_topk
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    truth = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk(q, emb, k=5).collect()
    }
    run = lambda: sorted(
        (r.query_id, r.neighbor_id, r.rn)
        for r in ivf_topk(q, emb, k=5, kmeans_iters=1).collect()
    )
    a, b = run(), run()
    assert a == b, "refined IVF results must be deterministic"
    approx = {(x, y) for x, y, _ in a}
    assert len(truth & approx) / len(truth) >= 0.8


def test_connected_components_chain_clusters(spark):
    """A~B and B~C without an explicit A~C edge must still land in one
    cluster with survivor = min id (pairs are not transitive-closed)."""
    from spark_kafka_streaming_spark.operators.clusters import dedup_survivors

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id1 long, id2 long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 5, 7, 9)], "doc_id long"
    )
    got = {
        (r.doc_id, r.cluster_id, r.is_survivor)
        for r in dedup_survivors(pairs, nodes).collect()
    }
    assert got == {
        (1, 1, True), (2, 1, False), (3, 1, False),
        (5, 5, True), (7, 7, True), (9, 7, False),
    }
