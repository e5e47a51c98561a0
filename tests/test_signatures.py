"""The signature kernel (:func:`signature_frame`) against the
engine-portable texthash expressions it must equal bit for bit — the
property that lets its table feed every oracle-checked dedup query and
hash-match the streaming deduper's signatures."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_kafka_streaming_spark.functions import texthash as TH
from spark_kafka_streaming_spark.operators.signatures import signature_frame
from spark_kafka_streaming_spark.sources.batch import load_table


def test_signature_frame_matches_texthash_expressions(spark, sf_dir):
    """Identical hs sequences (first-occurrence order), MinHash
    signatures, SimHash values and null conventions, edge rows
    included: NULL text, empty text, a single token, repeated
    shingles."""
    docs = load_table(spark, sf_dir, "documents")
    extra = spark.createDataFrame(
        [(90001, None), (90002, ""), (90003, "one"), (90004, "a b c a b c a b c")],
        "doc_id long, text string",
    )
    allx = docs.select("doc_id", "text").unionByName(extra)
    want = (
        allx.withColumn("toks", F.expr(TH.spark_tokens("text")))
        .withColumn("sh", F.expr(TH.spark_shingles_from_tokens("toks")))
        .withColumn(
            "hs",
            F.expr(f"array_distinct(transform(sh, s -> {TH.spark_str_hash('s')}))"),
        )
        .withColumn(
            "sig", F.when(F.size("hs") > 0, F.expr(TH.spark_minhash_sig("hs")))
        )
        .withColumn("sim", F.expr(TH.spark_simhash("text")))
    )
    a = {r.doc_id: (r.hs, r.sig, r.sim) for r in signature_frame(allx).collect()}
    b = {r.doc_id: (r.hs, r.sig, r.sim) for r in want.collect()}
    assert len(a) == len(b) and a.keys() == b.keys()
    assert a[90001] == (None, None, 0)
    for k in a:
        assert a[k] == b[k], f"doc {k}: {a[k]} != {b[k]}"
