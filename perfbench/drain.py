"""events_drain: a fixed seeded backlog drained with ``availableNow``.

decode_json_with_dlq -> valid_records -> watermark ->
dropDuplicatesWithinWatermark(event_id) -> 1-minute tumbling count and
exact sum per event_type -> parquet append; dead letters go to their
own parquet sink through a second query on the same files.  Triggers
are large (four files, 10,000 messages), so the per-row cost of JSON
decode, dedup state and the shuffle dominates and the fixed per-trigger
cost that drives wordcount_rate is spread thin.

The dead-letter query takes the whole backlog in one trigger.  It then
shares the cores with the windowed query's first trigger only; bounded
like the windowed query, its triggers ran beside every one of the
windowed query's and made each drain's trigger times depend on how the
two queries happened to interleave.
"""

from __future__ import annotations

import time
from pathlib import Path

from pyspark.sql import functions as F

import corpus
import generator as G
import harness as H
import oracles
from stats import median
from wordcount import FRAME

from spark_kafka_streaming_spark.streaming import decode as D
from spark_kafka_streaming_spark.streaming import pipeline as P

FILES, PER_FILE = 12, 2500
FILES_PER_TRIGGER = 4
WINDOW, WATERMARK = "1 minute", "30 seconds"
WINDOW_MS, WATERMARK_MS = 60_000, 30_000
#: Warm-up drains.  After one, the next few drains still ran 15-35%
#: faster each; after two, they were within a few percent of each other.
WARM_DRAINS = 2
#: Drains per run at the least; more when they fit in the run length.
MIN_DRAINS = 2
#: Longest one drain may take before it counts as timed out.
DRAIN_TIMEOUT_S = 90.0


class EventsDrain:
    name = "events_drain"

    def __init__(self, seed: int, seconds: int):
        self.seed = seed
        self.seconds = seconds
        self.backlog: Path | None = None
        self.glog: dict | None = None

    def _build(self, spark, src: Path, spans):
        with spans.span("pipeline.file_stream"):
            stream = P.file_stream(spark, str(src), schema=FRAME, max_files_per_trigger=FILES_PER_TRIGGER)
            whole = P.file_stream(spark, str(src), schema=FRAME)
        with spans.span("decode.decode_json_with_dlq"):
            valid = D.valid_records(D.decode_json_with_dlq(stream, P.EVENTS_SCHEMA))
            dead = D.dead_letters(D.decode_json_with_dlq(whole, P.EVENTS_SCHEMA))
        windows = (
            valid.withWatermark("ts", WATERMARK)
            .dropDuplicatesWithinWatermark(["event_id"])
            .groupBy(F.window("ts", WINDOW).alias("w"), "event_type")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.col("value").cast("decimal(18,2)")).alias("total"),
            )
            .select(F.col("w.start").alias("ws"), "event_type", "n", "total")
        )
        return windows, dead

    def _drain(self, spark, src: Path, d: Path, spans) -> tuple[float, float, object, object]:
        """Run both queries to the end of the backlog; (start, end) wall
        times and the two queries.  Raises TimeoutError past the bound."""
        windows, dead = self._build(spark, src, spans)
        t0 = time.time()
        with spans.span("pipeline.start_sink"):
            main = P.start_sink(
                windows, sink="parquet", path=str(d / "out"), checkpoint=str(d / "ck"), available_now=True
            )
            dlq = P.start_sink(
                dead, sink="parquet", path=str(d / "dlq"), checkpoint=str(d / "ck_dlq"), available_now=True
            )
        with spans.span("pipeline.await"):
            ok = main.awaitTermination(DRAIN_TIMEOUT_S) and dlq.awaitTermination(
                max(1.0, DRAIN_TIMEOUT_S - (time.time() - t0))
            )
        t1 = time.time()
        if not ok:
            main.stop()
            dlq.stop()
            raise TimeoutError("drain did not finish")
        return t0, t1, main, dlq

    def stage(self, d: Path, spans) -> None:
        """Land the backlog."""
        with spans.span("generator.stage"):
            self.glog = H.stage_backlog("events", self.seed, d / "in", FILES, PER_FILE, 1.0)
        self.backlog = d / "in"

    def warm_up(self, spark, d: Path, spans) -> None:
        """Full drains of the backlog, ``WARM_DRAINS`` of them."""
        for i in range(WARM_DRAINS):
            self._drain(spark, self.backlog, d / str(i), spans)

    def measure(self, spark, d: Path, spans, recorder=None, on_run_end=None) -> dict:
        """Drain the staged backlog again and again, each time with
        fresh checkpoints and sinks: ``MIN_DRAINS`` drains, and one more
        whenever another as long as the last still ends within the run
        length.  The traced pass (the one with a ``recorder``) makes
        ``MIN_DRAINS``: its per-trigger figures need a few triggers, not
        the run length, and a traced run has to stay short."""
        messages = list(G.events_messages(self.seed, FILES, PER_FILE))
        H.reset_dir(d)
        deadline = time.time() + (self.seconds if recorder is None else 0)
        runs = []
        timed_out = False
        with spans.span("pipeline.run") as run_span:
            while len(runs) < MIN_DRAINS or time.time() + (runs[-1][2] - runs[-1][1]) <= deadline:
                dd = d / f"drain{len(runs)}"
                with spans.span("pipeline.drain"):
                    try:
                        t0, t1, main, _ = self._drain(spark, self.backlog, dd, spans)
                    except TimeoutError:
                        timed_out = True
                        break
                runs.append((dd, t0, t1, str(main.id)))
        if on_run_end is not None:
            on_run_end()
        drains = [{"timed_out": True}] if timed_out else []
        with spans.span("oracle"):
            for dd, t0, t1, qid in runs:
                drains.append({**self._check(spark, dd, messages, t0, t1), "query_id": qid})
        if recorder is not None:
            H.add_trigger_spans(spans, recorder.events, {x["query_id"] for x in drains if "query_id" in x}, run_span.get("id"))
        ok = [x for x in drains if not x.get("timed_out")]
        lat = [v for x in ok for v in x["latency_ms"]]
        grp = [(i, b) for i, x in enumerate(ok) for b in x["latency_groups"]]
        group_ids = {g: n for n, g in enumerate(dict.fromkeys(grp))}
        attempted = sum(x.get("triggers", 1) for x in drains)
        failed = sum(x.get("triggers", 1) for x in drains if x.get("timed_out") or not x["correct"])
        thr = [x["throughput"] for x in ok]
        return {
            "correct": all(x.get("correct", False) for x in drains),
            "attempted": max(1, attempted),
            "failed": failed,
            "latency_ms": lat,
            "latency_groups": [group_ids[g] for g in grp],
            "events": FILES * PER_FILE,
            "throughput": median(thr) if thr else 0.0,
            "drains": len(drains),
            "drain_events_per_s": [round(t) for t in thr],
            "late_planted": sum(x["late_planted"] for x in ok),
            "late_dropped": sum(x["late_dropped"] for x in ok),
            "mismatched_keys": sum(x.get("mismatched_keys", 0) for x in ok),
            "generator_late_ms_max": self.glog["late_ms_max"],
            "backlog_files_max": FILES,
            "headline": median([1.0 / t for t in thr]) if thr else float("inf"),
            "query_ids": [x["query_id"] for x in ok],
            "sink_rows_out": sum(x["sink_rows"] for x in ok),
            "checkpoint": d / "drain0" / "ck",
            "input": self.backlog,
        }

    def _check(self, spark, d: Path, messages, t0: float, t1: float) -> dict:
        ck = d / "ck"
        files = H.batch_files(ck)
        commits = H.commit_times(ck)
        wm = H.batch_watermarks(ck)
        late_wm = H.late_watermarks(wm)
        by_file = sorted(
            ((files.get(G.file_name(k), -1), k, msgs) for k, msgs in enumerate(messages)), key=lambda x: x[:2]
        )
        data = [(b, msgs) for b, _, msgs in by_file]
        last = max(wm)
        evict = wm[last]
        want, dead = oracles.events_expected(data, late_wm, evict, WINDOW_MS)
        late = [(b, m) for b, msgs in data for m in msgs if m.late and not m.replay]
        bad = int(evict != oracles.expected_watermark(data, last, WATERMARK_MS))
        bad += int(any(b < 0 for b, _ in data))
        got = {
            (r["ws"], r["event_type"]): (r["n"], r["total"])
            for r in spark.read.parquet(str(d / "out"))
            .select(F.unix_millis("ws").alias("ws"), "event_type", "n", "total")
            .collect()
        }
        bad += oracles.compare_rows(got, want)
        got_dead = spark.read.parquet(str(d / "dlq")).count()
        bad += int(got_dead != dead)
        lat, grp = [], []
        for b, msgs in data:
            lat.extend([(commits[b] - t0) * 1000.0] * len(msgs))
            grp.extend([b] * len(msgs))
        return {
            "correct": bad == 0,
            "mismatched_keys": bad,
            "triggers": len(commits),
            "latency_ms": lat,
            "latency_groups": grp,
            "throughput": FILES * PER_FILE / (t1 - t0),
            "sink_rows": len(got) + got_dead,
            "late_planted": len(late),
            "late_dropped": sum(G.parse_iso_ms(m.event["ts"]) <= late_wm.get(b, 0) for b, m in late),
        }

    def layer_metrics(self, spark, traced: dict, d: Path, spans) -> dict:
        """Ingest and serve a document backlog through the incremental
        stores, whose layers have no workload of their own (see
        ``corpus.py``)."""
        return corpus.run(spark, self.seed, d, spans)

    def decode_pass(self, spark, src: Path) -> dict:
        """The backlog through the decode functions alone into a noop
        sink: per-call p50 of three passes."""
        df = spark.read.schema(FRAME).json(str(src))
        decoded = D.decode_json_with_dlq(df, P.EVENTS_SCHEMA)
        return {
            "ms": H.noop_p50_ms(decoded),
            "rows_in": df.count(),
            "rows_out": D.valid_records(decoded).count(),
            "dead_letters": D.dead_letters(decoded).count(),
        }
