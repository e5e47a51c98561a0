"""wordcount_rate: the reference's flagship query under an open loop.

The generator process lands Kafka-frame files at a fixed rate while
``token_counts_windowed`` (sliding 1 min / 10 s, the reference's
10 min / 2 s scaled down) runs with the default as-soon-as-possible
trigger into an update-mode sink.  Triggers are small, so the fixed
cost of each one (planning, offset and commit logs, the state-store
commit) is what an event waits for.
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import functions as F
from pyspark.sql import types as T

import catalog
import generator as G
import harness as H
import oracles
from stats import median

from spark_kafka_streaming_spark.streaming import decode as D
from spark_kafka_streaming_spark.streaming import pipeline as P

RATE = 500  # messages per second
INTERVAL_S = 0.25  # one file per slot
PER_FILE = int(RATE * INTERVAL_S)
WINDOW, SLIDE, WATERMARK = "1 minute", "10 seconds", "20 seconds"
WINDOW_MS, SLIDE_MS = 60_000, 10_000
#: Warm-up triggers: past the cold first trigger and most of the
#: settling of trigger time after it.  After 8, trigger time still fell
#: by a third over the first ten measured triggers; 16 move most of
#: that fall into the warm-up.
WARM_FILES = 16
#: Longest the query may take to catch up once the generator is done.
CATCH_UP_S = 60.0

FRAME = T.StructType(
    [
        T.StructField("key", T.StringType()),
        T.StructField("value", T.StringType()),
        T.StructField("timestamp", T.TimestampType()),
    ]
)


class WordcountRate:
    name = "wordcount_rate"

    def __init__(self, seed: int, seconds: int):
        self.seed = seed
        self.files = max(1, int(round(seconds / INTERVAL_S)))
        self.warm_input: Path | None = None

    def _start(self, spark, src: Path, ck: Path, qname: str, spans, available_now: bool = False):
        # A drain of staged files takes one per trigger, as the live run does.
        with spans.span("pipeline.file_stream"):
            stream = P.file_stream(spark, str(src), schema=FRAME, max_files_per_trigger=1 if available_now else None)
        with spans.span("decode.token_counts_windowed"):
            counts = D.token_counts_windowed(stream, window=WINDOW, slide=SLIDE, watermark=WATERMARK)
        with spans.span("pipeline.start_sink"):
            return P.start_sink(
                counts,
                sink="memory",
                query_name=qname,
                checkpoint=str(ck),
                output_mode="update",
                available_now=available_now,
            )

    def stage(self, d: Path, spans) -> None:
        """Land the warm-up input."""
        with spans.span("generator.stage"):
            H.stage_backlog("wordcount", self.seed, d / "in", WARM_FILES, PER_FILE, INTERVAL_S)
        self.warm_input = d / "in"

    def warm_up(self, spark, d: Path, spans) -> None:
        """Drain the staged input through the same query."""
        q = self._start(spark, self.warm_input, d / "ck", "wc_warm", spans, available_now=True)
        with spans.span("pipeline.await"):
            q.awaitTermination()
        spark.catalog.dropTempView("wc_warm")

    def measure(self, spark, d: Path, spans, recorder=None, on_run_end=None) -> dict:
        src = H.reset_dir(d / "in")
        ck = d / "ck"
        qname = f"wc_{d.name}"
        q = self._start(spark, src, ck, qname, spans)
        log = d / "gen.json"
        cmd = H.generator_cmd("wordcount", self.seed, src, self.files, PER_FILE, INTERVAL_S, log)
        start_at = time.time() + 0.5
        timed_out = False
        with spans.span("pipeline.run") as run_span:
            gen = H.start_generator(cmd, start_at)
            with spans.span("generator.live"):
                glog = H.finish_generator(gen, log, self.files * INTERVAL_S + H.GENERATOR_GRACE_S)
            names = {e["file"] for e in glog["files"]}
            deadline = time.time() + CATCH_UP_S
            while True:
                done = H.batch_files(ck)
                commits = H.commit_times(ck)
                if names <= {f for f, b in done.items() if b in commits}:
                    break
                if q.exception() is not None or time.time() > deadline:
                    timed_out = True
                    break
                time.sleep(0.05)
        q.stop()
        if on_run_end is not None:
            on_run_end()
        if recorder is not None:
            H.add_trigger_spans(spans, recorder.events, {str(q.id)}, run_span.get("id"))
        with spans.span("oracle"):
            got = {
                (r["ws"], r["word"]): r["n"]
                for r in spark.table(qname)
                .groupBy(F.unix_millis(F.col("ws")).alias("ws"), "word")
                .agg(F.max("n").alias("n"))
                .collect()
            }
            sink_rows = spark.table(qname).count()
            spark.catalog.dropTempView(qname)
            res = self._check(ck, glog, got, timed_out)
        res["sink_rows_out"] = sink_rows
        res["query_id"] = str(q.id)
        res["checkpoint"] = ck
        res["input"] = src
        return res

    def _check(self, ck: Path, glog: dict, got: dict, timed_out: bool) -> dict:
        files = H.batch_files(ck)
        commits = H.commit_times(ck)
        starts = H.start_times(ck)
        late_wm = H.late_watermarks(H.batch_watermarks(ck))
        events = list(G.wordcount_events(self.seed, self.files, PER_FILE, INTERVAL_S))
        by_file = [(files.get(G.file_name(k), -1), evs) for k, evs in enumerate(events)]
        want, sources, emitted = oracles.wordcount_expected(
            [(b, evs) for b, evs in by_file if b in commits], late_wm, WINDOW_MS, SLIDE_MS
        )
        n_bad, bad_batches = oracles.compare_counts(got, want, sources)
        batch_of = {e.seq: b for b, evs in by_file for e in evs}
        start_at = glog["start_at"]
        lat, grp = [], []
        for e in emitted:
            b = batch_of[e.seq]
            lat.append((commits[b] - (start_at + e.created_ms / 1000.0)) * 1000.0)
            grp.append(b)
        triggers = len(commits)
        failed = len(bad_batches) or (1 if n_bad else 0)
        if timed_out:
            failed += 1
            triggers += 1
        per_batch = {}
        for b in files.values():
            per_batch[b] = per_batch.get(b, 0) + 1
        landed = [e["landed"] for e in glog["files"]]
        processed = sum(len(evs) for b, evs in by_file if b in commits)
        span_s = max(commits.values()) - start_at if commits else float("inf")
        return {
            "correct": n_bad == 0 and not timed_out,
            "attempted": max(1, triggers),
            "failed": min(failed, max(1, triggers)),
            "latency_ms": lat,
            "latency_groups": grp,
            "events": glog["events"],
            "throughput": processed / span_s,
            "mismatched_keys": n_bad,
            "late_planted": sum(e.late for evs in events for e in evs),
            "late_dropped": sum(e.late for evs in events for e in evs) - sum(e.late for e in emitted),
            "generator_late_ms_max": glog["late_ms_max"],
            "backlog_files_max": H.backlog_files_max(landed, starts, per_batch),
            "headline": median(lat) if lat else float("inf"),
            "trigger_s": [round(commits[b] - starts[b], 2) for b in sorted(commits)],
        }

    def layer_metrics(self, spark, traced: dict, d: Path, spans) -> dict:
        """The batch catalog pass, whose layers have no workload of their
        own (see ``catalog.py``)."""
        return catalog.run(spark, self.seed, d, spans)

    def decode_pass(self, spark, src: Path) -> dict:
        """The landed files through the decode step alone (tokenizing),
        into a noop sink: per-call p50 of three passes."""
        df = spark.read.schema(FRAME).json(str(src))
        tokens = D.explode_tokens(df)
        return {"ms": H.noop_p50_ms(tokens), "rows_in": df.count(), "rows_out": tokens.count(), "dead_letters": 0}
