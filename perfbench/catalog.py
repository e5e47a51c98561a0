"""The batch query catalog, for the per-layer figures of the
``operators`` and ``queries`` layers.  The traced run of
``wordcount_rate`` runs it once.

It runs the ``queries.REGISTRY`` entries whose tables the benchmark can
make itself, drawn as in the test data: 250 ``documents`` with their
``embeddings`` (the generator's ``docs`` stream; sf0.001 has 500), and
1,000 ``events`` and 25 ``nation`` rows (as at sf0.001).  Half the
documents halves the DuckDB near-duplicate oracles, whose cost grows
with the square of the corpus, so that the traced run stays within its
time.  The TPC-H entries
(``q01``, ``q09``, ``q21``, ``q_graph_pagerank_brands``) need the
line-item star schema, which the checkout does not hold.

The first pass collects each entry and checks it against its DuckDB
oracle (row count and the sorted rows); the second pass is timed, each
entry written to the noop sink.
"""

from __future__ import annotations

import json
import random
import time
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import generator as G
import oracles

from spark_kafka_streaming_spark.queries import REGISTRY

MIX = (
    "q_window_sliding_10m_5m",
    "q_dedup_minhash_lsh",
    "q_similarity_ivfpq",
    "q_text_bpe_encode_batched",
    "q_pipeline_corpus_end_to_end",
)
LAYERS = tuple(f"queries.{q}_s" for q in MIX) + ("queries.rows_out",)
TABLES = ("documents", "embeddings", "events", "nation")

#: The test data's ``documents.lang`` counts (sf0.1) and its 20 sources.
LANGS = {"en": 2059, "zh": 753, "de": 702, "es": 744, "fr": 742}
SOURCES = 20
LABELS = 10
EVENTS = 1_000
#: The test data's events span 2024-01-01 to 2024-01-30.
EVENT_SPAN_MS = 30 * 86_400_000


DOCS = 250


def stage_tables(seed: int, out: Path) -> None:
    """Write the four tables as parquet with the test data's schema."""
    rng = random.Random(f"catalog:{seed}")
    docs = [
        {"doc_id": d.doc_id, "text": d.text, "embedding": list(d.embedding)}
        for batch in G.documents(seed, 1, DOCS)
        for d in batch
    ]
    out.mkdir(parents=True, exist_ok=True)
    langs, weights = list(LANGS), list(LANGS.values())
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r["doc_id"] for r in docs], pa.int64()),
                "text": [r["text"] for r in docs],
                "lang": [rng.choices(langs, weights)[0] for _ in docs],
                "source": [f"src{rng.randrange(SOURCES)}" for _ in docs],
                "n_chars": pa.array([len(r["text"]) for r in docs], pa.int64()),
            }
        ),
        out / "documents.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([r["doc_id"] for r in docs], pa.int64()),
                "embedding": pa.array([r["embedding"] for r in docs], pa.list_(pa.float32())),
                "label": pa.array([rng.randrange(LABELS) for _ in docs], pa.int32()),
            }
        ),
        out / "embeddings.parquet",
    )
    ts = sorted(rng.randrange(EVENT_SPAN_MS) for _ in range(EVENTS))
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(EVENTS), pa.int64()),
                "ts": pa.array([(G.EPOCH_MS + t) * 1000 for t in ts], pa.timestamp("us")),
                "user_id": pa.array([rng.randrange(G.EV_USERS) for _ in ts], pa.int64()),
                "event_type": [rng.choice(G.EV_TYPES) for _ in ts],
                "value": [round(rng.expovariate(1.0 / G.EV_VALUE_MEAN), 2) for _ in ts],
                "props": [json.dumps({"k": rng.randint(0, 99)}) for _ in ts],
            }
        ),
        out / "events.parquet",
    )
    pq.write_table(
        pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        out / "nation.parquet",
    )


def check_pass(spark, sf_dir: Path) -> tuple[dict[str, int], int]:
    """Collect each entry and compare it with its DuckDB oracle.
    Returns entry -> 0 when it matches, 1 when it does not, and the
    number of rows the entries returned."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir / t}.parquet')")
    out = {}
    rows = 0
    for q in MIX:
        got = [tuple(r) for r in REGISTRY[q].builder(spark, str(sf_dir)).collect()]
        want = con.execute(REGISTRY[q].oracle).fetchall()
        out[q] = int(not oracles.same_rows(got, want))
        rows += len(got)
    con.close()
    return out, rows


def timed_pass(spark, sf_dir: Path, spans) -> dict[str, float]:
    """Seconds per entry, each written to the noop sink."""
    out = {}
    for q in MIX:
        t = time.perf_counter()
        with spans.span(f"queries.{q}"):
            REGISTRY[q].builder(spark, str(sf_dir)).write.format("noop").mode("overwrite").save()
        out[q] = time.perf_counter() - t
    return out


def run(spark, seed: int, d: Path, spans) -> dict:
    """Stage the tables, check each entry against DuckDB (which also
    warms its plan), then time one pass.  Returns the per-layer figures
    with ``attempted``/``failed``/``correct``."""
    with spans.span("queries.stage"):
        stage_tables(seed, d)
    with spans.span("queries.check_pass"):
        bad, rows = check_pass(spark, d)
    times = timed_pass(spark, d, spans)
    out: dict = {f"queries.{q}_s": t for q, t in times.items()}
    out["queries.rows_out"] = rows
    failed = sum(bad.values())
    out.update(attempted=len(MIX), failed=failed, correct=failed == 0)
    out["catalog_mismatches"] = [q for q, b in bad.items() if b]
    return out
