"""Corpus ingest and serve: documents ingested through the store chain
while one closed-loop client queries the same stores.  The traced run of
``events_drain`` runs it once, for the per-layer figures of the
``incremental_*``, ``fold`` and ``serving`` layers.

A ``foreachBatch`` chain runs ``IncrementalDeduper`` on each trigger of
a seeded document backlog (``availableNow``, one file per trigger) and
feeds the documents it accepts to ``IncrementalIndexer`` and
``IncrementalVectorIndexer``; every ``COMPACT_EVERY`` triggers the
chain compacts all three stores.  From the first commit until ingest
ends, one client in the driver cycles through ``bm25_snapshot`` (drawn
terms), ``topk`` (drawn vectors) and ``hybrid_rrf_from_stores``.
Writes and reads share the stores, so a fold or compaction change that
speeds one at the cost of the other shows in both sets of figures.

The first trigger and the first call of each kind carry the cold start
of their plans; the per-call p50s leave them out.
"""

from __future__ import annotations

import os
import random
import time
import traceback
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

import generator as G
import harness as H
import oracles
from stats import median

from spark_kafka_streaming_spark.functions import texthash as TH
from spark_kafka_streaming_spark.operators import index as IX
from spark_kafka_streaming_spark.operators.dedup import minhash_lsh_pairs
from spark_kafka_streaming_spark.streaming import pipeline as P
from spark_kafka_streaming_spark.streaming.incremental_dedup import IncrementalDeduper
from spark_kafka_streaming_spark.streaming.incremental_index import IncrementalIndexer
from spark_kafka_streaming_spark.streaming.incremental_vectors import IncrementalVectorIndexer
from spark_kafka_streaming_spark.streaming.serving import hybrid_rrf_from_stores

PER_FILE = 100
#: Three triggers: a cold one, then two warm ones with a compaction
#: round between them.
FILES = 3
#: Store partitioning sized to a corpus of a few hundred documents; the
#: engine's defaults (64 key buckets, 32 term buckets, 16 cells) are
#: sized for a cluster and would write mostly empty directories here.
KEY_BUCKETS = TERM_BUCKETS = CELLS = 8
COMPACT_EVERY = 2
#: Query frames the client draws from, built before the ingest starts.
QUERY_POOL = 8
TERMS_PER_QUERY = 3
#: Longest the ingest may take before it counts as stalled.
INGEST_TIMEOUT_S = 120.0
KINDS = ("bm25", "topk", "hybrid")
LAYERS = (
    "incremental_dedup.call_ms", "incremental_dedup.accept_ratio", "incremental_dedup.compact_ms",
    "incremental_index.call_ms", "incremental_index.compact_ms", "incremental_vectors.call_ms",
    "fold.store_files", "fold.store_bytes", "incremental_index.bm25_ms",
    "incremental_vectors.topk_ms", "serving.hybrid_ms", "serving.calls",
)  # fmt: skip
CHAIN_CALLS = ("dedup", "index", "vectors", "dedup_compact", "index_compact", "vectors_compact")

DOC = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ]
)


class Stores:
    """The three maintained stores under one directory, and the chain
    that feeds them, timing each call."""

    def __init__(self, spark, d: Path, spans):
        self.spark = spark
        self.d = d
        self.spans = spans
        self.dedup = IncrementalDeduper(str(d / "sig"), str(d / "accepted"), n_key_buckets=KEY_BUCKETS)
        self.index = IncrementalIndexer(str(d / "index"), n_term_buckets=TERM_BUCKETS)
        self.vectors = IncrementalVectorIndexer(str(d / "vectors"), n_cells=CELLS, id_col="doc_id")
        self.calls: dict[str, list[float]] = {k: [] for k in CHAIN_CALLS}
        self.triggers = 0

    def _timed(self, name: str, fn, *args) -> None:
        t = time.time()
        fn(*args)
        end = time.time()
        self.calls[name].append((end - t) * 1000.0)
        # The chain runs on Spark's callback thread, so its spans are
        # added whole rather than opened on the driver's span stack.
        self.spans.add(f"chain.{name}", t, end, None)

    def __call__(self, batch, batch_id: int) -> None:
        self._timed("dedup", self.dedup, batch, batch_id)
        accepted = self.spark.read.schema(DOC).parquet(f"{self.dedup.accepted_path}/batch={batch_id}")
        self._timed("index", self.index, accepted, batch_id)
        self._timed("vectors", self.vectors, accepted, batch_id)
        self.triggers += 1
        if self.triggers % COMPACT_EVERY == 0:
            self._timed("dedup_compact", self.dedup.compact, self.spark)
            self._timed("index_compact", self.index.compact, self.spark)
            self._timed("vectors_compact", self.vectors.compact, self.spark)


def _queries(spark, rng: random.Random) -> list:
    """One-row query frames of seeded unit vectors, cached up front."""
    vecs = []
    for i in range(QUERY_POOL):
        v = [rng.gauss(0.0, 1.0) for _ in range(G.DOC_DIM)]
        n = sum(x * x for x in v) ** 0.5
        vecs.append((10**9 + i, [x / n for x in v]))
    frame = spark.createDataFrame(vecs, "doc_id long, embedding array<float>").cache()
    frame.count()
    return [frame.filter(F.col("doc_id") == i) for i, _ in vecs]


def _serve(spark, stores: Stores, kind: str, rng: random.Random, pool: list, spans):
    words = [w for w in G.WORD_COUNTS if w != "dup"]
    with spans.span(f"serving.{kind}"):
        if kind == "bm25":
            df = stores.index.bm25_snapshot(spark, terms=tuple(sorted(rng.sample(words, TERMS_PER_QUERY))))
        elif kind == "topk":
            df = stores.vectors.topk(rng.choice(pool), k=10)
        else:
            df = hybrid_rrf_from_stores(stores.index, stores.vectors, rng.choice(pool), spark)
        return None if df is None else df.collect()


def run(spark, seed: int, d: Path, spans) -> dict:
    """Stage the backlog, ingest it while serving, check the stores, and
    return the per-layer figures with ``attempted``/``failed``/``correct``."""
    src = d / "in"
    with spans.span("generator.stage"):
        H.stage_backlog("docs", seed, src, FILES, PER_FILE, 1.0)
    rng = random.Random(f"client:{seed}")
    pool = _queries(spark, rng)
    stores = Stores(spark, d, spans)
    calls: list[tuple[str, float, bool]] = []
    with spans.span("corpus.ingest"):
        with spans.span("pipeline.file_stream"):
            stream = P.file_stream(spark, str(src), schema=DOC, max_files_per_trigger=1)
        t0 = time.time()
        with spans.span("pipeline.start_sink"):
            q = P.start_sink(stream, foreach_batch=stores, checkpoint=str(d / "ck"), available_now=True)
        # Closed loop: the next call starts when the previous one returns,
        # from the first committed trigger until ingest ends.
        while q.isActive and stores.triggers == 0:
            time.sleep(0.02)
        k = 0
        while q.isActive:
            kind = KINDS[k % len(KINDS)]
            t = time.perf_counter()
            try:
                rows = _serve(spark, stores, kind, rng, pool, spans)
                ok = rows is not None and len(rows) > 0
            except Exception:  # a failed call is counted, and the run goes on
                traceback.print_exc()
                ok = False
            calls.append((kind, (time.perf_counter() - t) * 1000.0, ok))
            k += 1
        try:
            finished = q.awaitTermination(max(1.0, INGEST_TIMEOUT_S - (time.time() - t0)))
        except Exception:  # the chain raised: the query failed
            traceback.print_exc()
            finished = False
        if not finished:
            q.stop()
    with spans.span("corpus.oracle"):
        res = check(spark, stores, src, d / "ck")
    failed = res["bad_triggers"] + int(res["bm25_mismatch"]) + sum(not ok for _, _, ok in calls)
    failed += int(not finished or stores.triggers < FILES)
    out = layer_stats(stores, calls, res["accepted"], FILES * PER_FILE)
    out.update(attempted=FILES + len(calls), failed=failed, correct=failed == 0)
    return out


def check(spark, stores: Stores, src: Path, ck: Path) -> dict:
    """The accepted set against a greedy replay of the batch
    ``minhash_lsh_pairs`` list in arrival order, and served BM25 against
    the batch scorer over the accepted documents."""
    docs = spark.read.schema(DOC).json(str(src))
    pairs = minhash_lsh_pairs(docs, jaccard_threshold=stores.dedup.threshold).select("id1", "id2").collect()
    batch_of_file = H.batch_files(ck)
    trig = {}
    for k in range(FILES):
        for i in range(k * PER_FILE, (k + 1) * PER_FILE):
            trig[i] = batch_of_file.get(G.file_name(k), -1)
    want = oracles.greedy_accepted(trig, ((int(p["id1"]), int(p["id2"])) for p in pairs))
    got = {r["doc_id"] for r in spark.read.parquet(stores.dedup.accepted_path).select("doc_id").collect()}
    wrong = got ^ want

    acc = spark.read.parquet(stores.dedup.accepted_path)
    tok = acc.select("doc_id", F.explode(F.expr(TH.spark_tokens("text"))).alias("term"))
    per_doc = tok.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[F.expr(IX.bm25_tf_case(t)).cast("bigint").alias(f"tf_{t}") for t in IX.BM25_TERMS],
    )
    want_bm25 = [tuple(r) for r in IX.bm25_score_per_doc(per_doc).collect()]
    served = stores.index.bm25_snapshot(spark)
    got_bm25 = [] if served is None else [tuple(r) for r in served.collect()]
    return {
        "accepted": len(got),
        "bad_triggers": len({trig.get(i, -1) for i in wrong}),
        "bm25_mismatch": not want_bm25 or got_bm25 != want_bm25,
    }


def _warm_p50(xs: list[float]) -> float:
    """p50 without the first (cold) sample, when there is more than one."""
    xs = xs[1:] if len(xs) > 1 else xs
    return float(median(xs)) if xs else 0.0


def layer_stats(stores: Stores, calls: list[tuple[str, float, bool]], accepted: int, docs: int) -> dict:
    """Per-call p50s of the chain and the client, and the stores' size
    on disk."""
    files = size = 0
    for sub in ("sig", "accepted", "index", "vectors"):
        for root, _, names in os.walk(stores.d / sub):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    by_kind = {k: [ms for kind, ms, ok in calls if kind == k and ok] for k in KINDS}
    return {
        "incremental_dedup.call_ms": _warm_p50(stores.calls["dedup"]),
        "incremental_dedup.accept_ratio": accepted / docs,
        "incremental_dedup.compact_ms": _warm_p50(stores.calls["dedup_compact"]),
        "incremental_index.call_ms": _warm_p50(stores.calls["index"]),
        "incremental_index.compact_ms": _warm_p50(stores.calls["index_compact"]),
        "incremental_vectors.call_ms": _warm_p50(stores.calls["vectors"]),
        "fold.store_files": files,
        "fold.store_bytes": size,
        "incremental_index.bm25_ms": _warm_p50(by_kind["bm25"]),
        "incremental_vectors.topk_ms": _warm_p50(by_kind["topk"]),
        "serving.hybrid_ms": _warm_p50(by_kind["hybrid"]),
        "serving.calls": len(calls),
    }
