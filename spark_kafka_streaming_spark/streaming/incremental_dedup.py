"""Incremental (streaming) near-duplicate filtering.

The batch MinHash-LSH operator (:mod:`..operators.dedup`) dedups a
corpus against itself; a training-data *pipeline* receives documents
continuously and must answer "is this new document a near-dup of
anything already accepted?" incrementally.

Design (the 100 TB shape):

* a persistent **signature store** (parquet, laid out for pruned point
  lookups — see below) holds the LSH band keys of every accepted doc;
* each micro-batch, via ``foreachBatch``: compute the batch's
  signatures (same engine-portable hash family), probe the store with
  a **broadcast** equi-join on the band keys (and self-join the batch
  for intra-batch dups), verify candidates with exact Jaccard on
  hashed shingles, drop matched docs, and append the survivors' band
  keys to the store;
* the store grows by accepted docs only and doubles as the corpus's
  dedup index for batch jobs.

Store layout — the part that has to survive 100 TB.  The store is TWO
normalized subtrees under ``store_path``:

* ``keys/`` — the band-key index, one NARROW row per (band, key,
  doc_id), partitioned by ``kb = pmod(xxhash64(key), N_KEY_BUCKETS)``
  (plus ``batch`` for idempotent replay).  The per-trigger probe joins
  on ``(kb, band, key)`` with the (small) batch side broadcast, so the
  store side is **never shuffled**, and Spark's dynamic partition
  pruning drops every ``kb=…`` directory the batch doesn't touch.
  Files are sorted by ``key`` within each bucket so parquet row-group
  min/max stats prune further.
* ``hashes/`` — the exact-verify payload, ONE row per accepted doc
  ``(doc_id, hs)``, partitioned by ``hb = pmod(xxhash64(doc_id),
  N_KEY_BUCKETS)``.  Candidates that survive the key join fetch their
  exact shingle-hash sets here via a second broadcast join that
  carries ``hb`` in the join key, so dynamic partition pruning reads
  only the buckets holding actual candidates.

  Why normalized: the original layout carried ``hs`` inline on every
  band row — the fattest column duplicated ``BANDS``× per doc, >90 %
  of store bytes — so every probe scanned the whole corpus's shingle
  hashes even though only the (rare) key-collided candidates need
  them.  Measured live at the fourth decade (SCALE.md round 10,
  5M-doc backlog replay): per-trigger walls grew 65 → 160 s as the
  store grew to 8 GB, exactly the probe's full-store scan.  The
  normalized layout scans the narrow key index (a few % of the bytes)
  plus only the candidate-touched hash buckets.
* Each trigger writes its survivors under ``…/batch=N`` with dynamic
  partition overwrite — replaying batch N after a crash overwrites
  exactly its own leaves (exactly-once, same pattern as
  tests/test_streaming_extra.py).
* ``compact()`` (optionally every ``compact_every`` batches) runs the
  TIERED per-bucket fold shared with the index/spans/vectors stores
  (:mod:`.fold`): trigger leaves merge into sorted runs (work ∝ data
  since the last compact), runs collapse into the bucket's base at a
  staggered bound, and a watermark marker makes a trigger replayed
  after its fold exactly-once.  A production deployment would put the
  store in a transactional table format (Delta/Iceberg) and get the
  same moves as atomic metadata commits.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fold import compact_tiered, fold_filter_path, guard_batch_id
from .swap import recover_swap, swap_lock
from ..functions import texthash as TH

#: Directory-level hash buckets on the LSH key. At cluster scale this
#: would be sized so one bucket ≈ a few hundred MB of index.
N_KEY_BUCKETS = 64

#: Above this many dup ids per micro-batch the accept filter anti-joins
#: the dup set instead of inlining it as an IN list.
DUP_IDS_INLINE_MAX = 10_000


def signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, hs, sig) for a batch of documents (no shuffle; map-only).

    The no-shingles guard filters on the TOKEN count, not on the
    shingle array: ``size(sh) > 0`` holds exactly when the doc has ≥ 3
    tokens (``spark_shingles_from_tokens`` emits ``[]`` below that),
    but a ``size(sh)`` predicate is pushed below any upstream exchange
    by Catalyst and re-evaluates the whole shingling expression in the
    (single-split) scan task — measured as a ~1 s one-task stage per
    trigger (plans/r12/jobs_stream_dedup_store_drain_before.txt).  The
    token-count form keeps the pushed copy to one split+filter pass.
    """
    return (
        docs.select(F.col(id_col), F.expr(TH.spark_tokens(text_col)).alias("toks"))
        .filter(F.size("toks") >= 3)
        .select(id_col, F.expr(TH.spark_shingles_from_tokens("toks")).alias("sh"))
        .select(
            id_col,
            F.expr(
                f"array_distinct(transform(sh, s -> {TH.spark_str_hash('s')}))"
            ).alias("hs"),
        )
        .withColumn("sig", F.expr(TH.spark_minhash_sig("hs")))
    )


def band_keys(
    sigs: DataFrame, id_col: str = "doc_id", n_key_buckets: int = N_KEY_BUCKETS
) -> DataFrame:
    """(id, band, key, kb, hs) — the LSH index rows for a batch.

    ``kb`` is the store's partition bucket; computing it here keeps the
    batch side and the store side of the probe join bit-identical.
    ``hs`` rides along in memory for the batch's own verify legs; the
    persisted key index is the narrow projection without it.
    """
    return (
        sigs.select(
            id_col,
            "hs",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.expr(TH.spark_band_key("sig", b)).alias("key"),
                        )
                        for b in range(TH.BANDS)
                    ]
                )
            ).alias("bk"),
        )
        .select(id_col, "bk.band", "bk.key", "hs")
        .withColumn("kb", F.pmod(F.xxhash64("key"), F.lit(n_key_buckets)))
    )


class IncrementalDeduper:
    """foreachBatch processor: accept only docs that are not near-dups
    of the already-accepted corpus (or of earlier docs in the same
    batch), maintaining the signature store at ``store_path`` and the
    accepted docs at ``accepted_path``.
    """

    def __init__(
        self,
        store_path: str,
        accepted_path: str,
        jaccard_threshold: float = 0.5,
        id_col: str = "doc_id",
        text_col: str = "text",
        n_key_buckets: int = N_KEY_BUCKETS,
        compact_every: int = 0,
        broadcast_candidates: bool = True,
    ):
        self.store_path = store_path
        self.keys_path = os.path.join(store_path, "keys")
        self.hashes_path = os.path.join(store_path, "hashes")
        self.accepted_path = accepted_path
        self.threshold = jaccard_threshold
        self.id_col = id_col
        self.text_col = text_col
        self.n_key_buckets = n_key_buckets
        self.compact_every = compact_every
        self.broadcast_candidates = broadcast_candidates
        self._guard_layout()

    # -- helpers -------------------------------------------------------
    def _guard_layout(self) -> None:
        """Refuse to start over a pre-normalization (round-9) store.

        The old layout put ``kb=…`` leaves (with inline ``hs``) directly
        under ``store_path``; starting the normalized deduper there
        would silently treat the corpus as empty (``keys/``/``hashes/``
        don't exist) and accept cross-batch dups of previously accepted
        docs while forking new subtrees beside the stale data.
        """
        old_leaves = glob.glob(os.path.join(self.store_path, "kb=*"))
        if old_leaves:
            raise ValueError(
                f"signature store at {self.store_path!r} uses the old "
                "inline-hs layout (kb=* leaves at the store root); "
                "rebuild it by replaying the accepted corpus through "
                "this deduper into a fresh store_path (the normalized "
                "layout keeps keys/ and hashes/ subtrees)"
            )

    def _recover(self) -> None:
        recover_swap(self.keys_path)
        recover_swap(self.hashes_path)

    def _store_keys(self, spark: SparkSession) -> DataFrame | None:
        """The narrow band-key index (doc_id, band, key, kb, batch).
        The tiered-fold watermark filter drops trigger leaves already
        folded into a run (exactly-once across compaction; both filter
        columns are partition columns, so it prunes directories)."""
        if not os.path.exists(self.keys_path):
            return None
        return fold_filter_path(
            spark.read.parquet(self.keys_path), self.keys_path, "kb"
        )

    def _store_hashes(self, spark: SparkSession) -> DataFrame | None:
        """The per-doc exact-verify payload (doc_id, hs, hb, batch);
        watermark-filtered like the key index."""
        if not os.path.exists(self.hashes_path):
            return None
        return fold_filter_path(
            spark.read.parquet(self.hashes_path), self.hashes_path, "hb"
        )

    def _verify(self, cand: DataFrame) -> DataFrame:
        """Exact-Jaccard filter on candidate pairs → distinct dup ids."""
        inter = F.size(F.array_intersect("hs1", "hs2"))
        union = F.size("hs1") + F.size("hs2") - inter
        return (
            cand.withColumn(
                "jaccard", inter.cast("double") / union.cast("double")
            )
            .filter(F.col("jaccard") >= self.threshold)
            .select(F.col("new_id").alias(self.id_col))
            .distinct()
        )

    def _dup_ids(
        self,
        batch_keys: DataFrame,
        store_keys: DataFrame,
        store_hashes: DataFrame,
        batch_hs: DataFrame | None = None,
    ) -> DataFrame:
        """ids in ``batch_keys`` that near-dup anything in the store.

        Two broadcast probes, the store never shuffled: (1) the batch's
        band keys against the NARROW key index — dynamic partition
        pruning on ``kb`` skips untouched buckets and the scan never
        reads shingle hashes; (2) the surviving candidate ids against
        the per-doc hash table, carrying the ``hb`` bucket in the join
        key so partition pruning reads only candidate-touched buckets.
        The exact-Jaccard verify then runs on that bounded fetch.
        """
        id_c = self.id_col
        # Both broadcasts are NARROW by construction: the batch side of
        # the key probe drops ``hs`` (re-attached after the bounded
        # store fetch), and the candidate broadcast carries only
        # (new_id, old_id, old_hb) tuples — 3 fixed-width columns.  The
        # candidate count is bounded by key collisions against the
        # whole store, not by the micro-batch (a hot band key shared by
        # many accepted docs multiplies pairs), so the OLD layout's
        # fat-array broadcast was a driver-OOM risk; the narrow tuples
        # put the 8 GB broadcast hard limit ~300M pairs away.  Corpora
        # known to be skew-hot can set ``broadcast_candidates=False``
        # to run the hash fetch as a shuffle join instead (correctness
        # identical; loses dynamic partition pruning on ``hb``).
        cand_ids = (
            store_keys.alias("o")
            .join(
                F.broadcast(
                    batch_keys.select(id_c, "band", "key", "kb")
                ).alias("n"),
                (F.col("o.kb") == F.col("n.kb"))
                & (F.col("o.band") == F.col("n.band"))
                & (F.col("o.key") == F.col("n.key"))
                & (F.col(f"o.{id_c}") != F.col(f"n.{id_c}")),
            )
            .select(
                F.col(f"n.{id_c}").alias("new_id"),
                F.col(f"o.{id_c}").alias("old_id"),
            )
            .dropDuplicates(["new_id", "old_id"])
            .withColumn(
                "old_hb",
                F.pmod(F.xxhash64("old_id"), F.lit(self.n_key_buckets)),
            )
        )
        cand_side = (
            F.broadcast(cand_ids) if self.broadcast_candidates else cand_ids
        )
        if batch_hs is None:
            # derive the per-doc hash table from the exploded band rows
            # (callers holding the pre-explosion signature table pass
            # it directly and skip this dedup shuffle)
            batch_hs = batch_keys.select(id_c, "hs").dropDuplicates([id_c])
        cand = (
            store_hashes.alias("h")
            .join(
                cand_side.alias("c"),
                (F.col("h.hb") == F.col("c.old_hb"))
                & (F.col(f"h.{id_c}") == F.col("c.old_id")),
            )
            .select(
                "c.new_id",
                "c.old_id",
                F.col("h.hs").alias("hs2"),
            )
            # re-attach the fat batch-side shingle hashes AFTER the
            # bounded store fetch; the batch side is micro-batch-sized.
            .join(
                F.broadcast(batch_hs.alias("b")),
                F.col("new_id") == F.col(f"b.{id_c}"),
            )
            .select(
                "new_id",
                "old_id",
                F.col("b.hs").alias("hs1"),
                "hs2",
            )
        )
        return self._verify(cand)

    def compact(self, spark: SparkSession) -> dict[str, dict[str, int]]:
        """Tiered per-bucket fold of both subtrees
        (:func:`..fold.compact_tiered` — the same LSM shape as the
        index/spans/vectors stores): buckets that accumulated trigger
        leaves get ONLY those leaves rewritten into one sorted run;
        runs fold into the bucket's base at the staggered run bound.
        Per-compact work is bounded by data since the last compact
        plus amortized majors, never store size.  Both subtrees are
        append-only (one row per (doc, band) key / per doc), so the
        fold is a plain rewrite.  The store lock spans both subtree
        folds so a reader never pins one folded and one unfolded
        subtree mid-swap."""
        id_c = self.id_col
        with swap_lock(self.store_path):
            self._recover()
            stats_k = compact_tiered(
                spark,
                self.keys_path,
                "kb",
                lambda df: df.select(id_c, "band", "key", "kb"),
                sort_col="key",
            )
            stats_h = compact_tiered(
                spark,
                self.hashes_path,
                "hb",
                lambda df: df.select(id_c, "hs", "hb"),
                sort_col=id_c,
            )
        return {"keys": stats_k, "hashes": stats_h}

    # -- the foreachBatch hook -----------------------------------------
    def __call__(self, batch: DataFrame, batch_id: int) -> None:
        self._recover()
        # refuse re-keyed streams up front, before ANY write (the
        # accepted-docs write precedes the signature writes)
        guard_batch_id(self.keys_path, "kb", batch_id)
        guard_batch_id(self.hashes_path, "hb", batch_id)
        spark = batch.sparkSession
        id_c = self.id_col
        # A micro-batch arrives as O(1) source splits (one file/offset
        # range per trigger), so the MinHash chain below would run as
        # ONE task; spread it over the cluster first — the shuffle is
        # the raw micro-batch only.
        batch = batch.repartition(spark.sparkContext.defaultParallelism)
        # sigs (one row per doc) is persisted alongside the exploded
        # band keys: the per-doc hash table the probe's verify leg and
        # the hashes/ subtree write both need falls straight out of it
        # — no dedup shuffle over the 8x-exploded band rows.
        sigs = signatures(batch, id_c, self.text_col).persist()
        keys = band_keys(sigs, id_c, self.n_key_buckets).persist()
        # Materialize BOTH caches with one action before anything
        # branches: the probe/intra/write legs reference these frames
        # from up to four concurrent AQE query stages (broadcast
        # builds run in parallel), and a lazy cache loses that race —
        # each stage recomputed the full signature chain (measured:
        # 4 × 1.13 s single-task jobs in one trigger,
        # plans/r12/jobs_stream_dedup_store_drain_before.txt).  The
        # keys scan fills the sigs cache on the way.
        keys.count()

        dup_vs_store = None
        store_keys = self._store_keys(spark)
        store_hashes = self._store_hashes(spark)
        if store_keys is not None and store_hashes is not None:
            dup_vs_store = self._dup_ids(
                keys,
                store_keys,
                store_hashes,
                batch_hs=sigs.select(id_c, "hs"),
            )

        # intra-batch: keep the lowest id of each duplicate cluster
        intra = (
            keys.alias("a")
            .join(
                keys.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.key") == F.col("b.key"))
                & (F.col(f"a.{id_c}") > F.col(f"b.{id_c}")),
            )
            .select(
                F.col(f"a.{id_c}").alias("new_id"),
                F.col(f"b.{id_c}").alias("old_id"),
                F.col("a.hs").alias("hs1"),
                F.col("b.hs").alias("hs2"),
            )
            .dropDuplicates(["new_id", "old_id"])
        )
        intra_dups = self._verify(intra)

        dups = (
            intra_dups if dup_vs_store is None
            else dup_vs_store.union(intra_dups).distinct()
        ).persist()
        # Fold the dup-id set to the driver: it is bounded by the
        # micro-batch (every dup id IS a batch doc id), so below the
        # literal bound the three downstream writes filter on an IN
        # list instead of each carrying a join against the whole
        # probe/verify subtree — one dup computation, three small
        # write plans (driver analysis per trigger was the wall after
        # the cache fixes).  The probe fetches at most one row past the
        # bound; a skew-hot batch past it anti-joins the persisted dup
        # set instead.  A NULL id is never a dup (the probe and intra
        # joins compare ids with NULL-rejecting predicates), so both
        # forms keep NULL-id docs: accept decisions are identical.
        dup_rows = dups.limit(DUP_IDS_INLINE_MAX + 1).collect()
        if len(dup_rows) <= DUP_IDS_INLINE_MAX:
            dup_ids = [r[0] for r in dup_rows]
            keep = (
                F.col(id_c).isNull() | ~F.col(id_c).isin(dup_ids)
                if dup_ids
                else F.lit(True)
            )
            accepted = batch.filter(keep)
            accepted_sigs = sigs.filter(keep)
            accepted_keys = keys.filter(keep)
        else:
            dup_df = F.broadcast(dups)
            accepted = batch.join(dup_df, id_c, "left_anti")
            accepted_sigs = sigs.join(dup_df, id_c, "left_anti")
            accepted_keys = keys.join(dup_df, id_c, "left_anti")

        # idempotent per-epoch writes: replaying batch_id overwrites
        accepted.write.mode("overwrite").parquet(
            f"{self.accepted_path}/batch={batch_id}"
        )
        # Lock spans both signature leaf writes so an external reader of
        # the store tree never pins a half-committed leaf.  Hashes land
        # FIRST: an orphan hash row (crash before the key write) is
        # unreachable and harmless, while a key row without its hash
        # row would silently miss a dup until the trigger replays.
        with swap_lock(self.store_path):
            # Both writes co-locate each bucket's rows in one task
            # first (the vector-store lesson, same round): without the
            # repartition every task writes a file per bucket it
            # touches — O(tasks × buckets) leaves per trigger — and
            # the dynamic-partition commit move is driver-side
            # O(files).  The shuffle is the micro-batch only.  The
            # explicit partition count stops AQE coalescing the tiny
            # shuffle to one task that would create every bucket leaf
            # serially (the vector store's measured write-stage wall).
            npart = spark.sparkContext.defaultParallelism
            (
                accepted_sigs
                .select(id_c, "hs")
                .withColumn(
                    "hb",
                    F.pmod(F.xxhash64(id_c), F.lit(self.n_key_buckets)),
                )
                .withColumn("batch", F.lit(batch_id))
                .repartition(npart, F.col("hb"))
                .sortWithinPartitions(id_c)
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("hb", "batch")
                .parquet(self.hashes_path)
            )
            (
                accepted_keys.select(id_c, "band", "key", "kb")
                .withColumn("batch", F.lit(batch_id))
                .repartition(npart, F.col("kb"))
                .sortWithinPartitions("key")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("kb", "batch")
                .parquet(self.keys_path)
            )
        dups.unpersist()
        sigs.unpersist()
        keys.unpersist()
        if self.compact_every and batch_id > 0 and batch_id % self.compact_every == 0:
            self.compact(spark)
