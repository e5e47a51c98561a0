"""The similarity operators' numpy/Arrow kernels against their DuckDB
oracles: each operator's output on the test corpus must equal, row for
row and bit for bit (cosines included), the oracle twin run over the
same parquet table."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from spark_kafka_streaming_spark.operators import similarity as S
from spark_kafka_streaming_spark.queries import REGISTRY


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    df.persist().count()
    yield df
    df.unpersist()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    yield con
    con.close()


def _same(df, duck, sql):
    got = sorted(map(tuple, df.collect()))
    want = sorted(map(tuple, duck.execute(sql).fetchall()))
    assert len(got) > 0
    assert got == want


def test_brute_force_topk_matches_duckdb(emb, duck):
    q10 = emb.filter(F.col("vec_id") < 10)
    _same(
        S.brute_force_topk(q10, emb, k=5),
        duck,
        REGISTRY["q_similarity_topk_bruteforce"].oracle,
    )


def test_mips_topk_matches_duckdb(emb, duck):
    q10 = emb.filter(F.col("vec_id") < 10)
    _same(
        S.mips_topk(q10, emb, k=5),
        duck,
        REGISTRY["q_similarity_mips_topk"].oracle,
    )


def test_cosine_all_pairs_matches_duckdb(emb, duck):
    """A non-default block count: every unordered pair still lands in
    exactly one block-pair task."""
    _same(
        S.cosine_all_pairs(emb, 0.45, n_blocks=5),
        duck,
        REGISTRY["q_dedup_embedding_cosine"].oracle,
    )


@pytest.mark.parametrize(
    "n_planes,n_bands",
    [(S.LSH_PLANES, S.LSH_BANDS), (12, 16)],
    ids=["default", "deep"],
)
def test_cosine_dup_pairs_candidates_match_duckdb(emb, duck, n_planes, n_bands):
    """With a threshold no cosine can miss, the output IS the LSH
    candidate set, so the banding kernel's plane indices, sign bits,
    bit packing and band fan-out are checked key collision by key
    collision — at the default geometry and at the deep 12×16 one
    (the measured dense-corpus configuration, SCALE.md)."""
    _same(
        S.cosine_dup_pairs(emb, -2.0, n_planes=n_planes, n_bands=n_bands),
        duck,
        S.duck_cosine_dup_pairs_sql(
            -2.0, planes_per_band=n_planes, bands=n_bands
        ),
    )


def test_lsh_topk_matches_duckdb(emb, duck):
    q10 = emb.filter(F.col("vec_id") < 10)
    _same(
        S.lsh_topk(q10, emb, k=5, n_planes=9),
        duck,
        S.duck_lsh_topk_sql(5, "id < 10", planes_per_band=9),
    )


def test_ivf_topk_matches_duckdb(emb, duck):
    """Queries drawn from the corpus, and the disjoint-corpus shape."""
    q10 = emb.filter(F.col("vec_id") < 10)
    _same(S.ivf_topk(q10, emb, k=5), duck, S.duck_ivf_topk_sql(5, "id < 10"))
    qs = emb.filter(F.col("vec_id") % 5 == 0)
    cp = emb.filter(F.col("vec_id") % 5 != 0)
    _same(
        S.ivf_topk(qs, cp, k=5),
        duck,
        S.duck_ivf_topk_sql(5, "id % 5 = 0", corpus_pred="id % 5 <> 0"),
    )


def test_ivf_topk_refined_matches_duckdb(emb, duck):
    q10 = emb.filter(F.col("vec_id") < 10)
    _same(
        S.ivf_topk(q10, emb, k=5, kmeans_iters=1),
        duck,
        S.duck_ivf_topk_sql(5, "id < 10", kmeans_iters=1),
    )


def test_ivf_topk_imi_matches_duckdb(emb, duck):
    q = emb.filter(F.col("vec_id") < 8)
    _same(
        S.ivf_topk_imi(q, emb, k=4, n_cells=25),
        duck,
        S.duck_ivf2_topk_sql(4, "id < 8", n_cells=25),
    )
