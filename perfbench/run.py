"""The engine's benchmark: one workload per run, checked against
references the benchmark computes itself.

    python3 perfbench/run.py --workload wordcount_rate --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  Prints the settings, then each metric
by name and unit, and as its last line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  ``--trace 0`` reports the
end-to-end metrics of ``BENCHMARK.json``; ``--trace 1`` runs the
workload untraced and then traced, and reports the per-layer metrics
(the trace itself goes to ``.perfbench_work/traces``).  See
``perfbench/README.md`` for what each workload and metric is for.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(1, str(HERE.parent))

import harness as H  # noqa: E402
from spans import NoSpans, Spans  # noqa: E402
from stats import percentile_with_support  # noqa: E402


def load_spec() -> dict:
    with open(H.ROOT / "BENCHMARK.json") as fh:
        return json.load(fh)


def workload_class(name: str):
    if name == "wordcount_rate":
        from wordcount import WordcountRate

        return WordcountRate
    if name == "events_drain":
        from drain import EventsDrain

        return EventsDrain
    raise ValueError(f"unknown workload {name!r}")


def end_to_end(res: dict, setup_s: float, rss_mb: float) -> dict:
    p50 = percentile_with_support(res["latency_ms"], res["latency_groups"], 50)
    p90 = percentile_with_support(res["latency_ms"], res["latency_groups"], 90)
    return {
        "setup_s": setup_s,
        "event_latency_p50_ms": p50["value"],
        "event_latency_p90_ms": p90["value"],
        "throughput_events_per_s": res["throughput"],
        "peak_rss_mb": rss_mb,
    }, {"p50": p50, "p90": p90}


def per_layer(
    res: dict,
    traced: dict,
    prog: dict,
    dec: dict,
    ck_bytes: int,
    jobs: int,
    tasks: int,
    session_s: float,
    extra: dict | None = None,
) -> dict:
    # Imported here so that a directory without the engine fails with a
    # message rather than an import error.
    import catalog
    import corpus

    ops = max(1, traced["attempted"])
    out = {
        "pipeline.triggers": prog["triggers"],
        "pipeline.rows_per_trigger": prog["rows_per_trigger"],
        "pipeline.trigger_ms": prog["trigger_ms"],
        "pipeline.overhead_ms": prog["overhead_ms"],
        "pipeline.planning_ms": prog["planning_ms"],
        "pipeline.wal_commit_ms": prog["wal_commit_ms"],
        "pipeline.commit_offsets_ms": prog["commit_offsets_ms"],
        "pipeline.source_backlog_files_max": traced["backlog_files_max"],
        "state_store.commit_ms": prog["state_commit_ms"],
        "state_store.update_ms": prog["state_update_ms"],
        "state_store.rows_total": prog["state_rows_total"],
        "state_store.memory_bytes": prog["state_memory_bytes"],
        "state_store.rows_dropped_by_watermark": prog["state_rows_dropped"],
        "state_store.checkpoint_bytes": ck_bytes,
        "decode.ms": dec["ms"],
        "decode.rows_in": dec["rows_in"],
        "decode.rows_out": dec["rows_out"],
        "decode.dead_letters": dec["dead_letters"],
        "sink.add_batch_ms": prog["add_batch_ms"],
        "sink.rows_out": traced["sink_rows_out"],
        "spark.jobs": jobs,
        "spark.tasks": tasks,
        "spark.jobs_per_op": jobs / ops,
        "session.start_s": session_s,
        "generator.events": traced["events"],
        "generator.late_ms_max": traced["generator_late_ms_max"],
        "monitor.overhead_pct": (traced["headline"] - res["headline"]) / res["headline"] * 100.0,
    }
    # Layers measured in one workload's traced run only read 0 in the
    # other's; perfbench/README.md maps each layer to its workload.
    out.update(dict.fromkeys(corpus.LAYERS, 0.0))
    out.update(dict.fromkeys(catalog.LAYERS, 0.0))
    out.update(extra or {})
    return out


def run(workload: str, seed: int, seconds: int, trace: bool) -> dict:
    spec = load_spec()
    units = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    run_dir = H.reset_dir(H.WORK / f"{workload}-s{seed}-t{int(trace)}")
    settings = H.configure_env(run_dir)
    wl = workload_class(workload)(seed, seconds)
    spans = Spans() if trace else NoSpans()
    sess = H.Session(run_dir)
    extra: dict = {"workload": workload, "seed": seed, "seconds": seconds, "machine": settings}
    try:
        with spans.span("session.get_spark"):
            session_s = sess.start()
        extra["versions"] = H.versions(sess.spark)
        t = time.perf_counter()
        with spans.span("setup.stage"):
            wl.stage(run_dir / "stage", spans)
        stage_s = time.perf_counter() - t
        t = time.perf_counter()
        with spans.span("setup.warm_up"):
            wl.warm_up(sess.spark, run_dir / "warm", spans)
        warm_s = time.perf_counter() - t
        setup_s = session_s + stage_s + warm_s
        extra["setup_parts_s"] = {"session": session_s, "stage": stage_s, "warm_up": warm_s}
        cpu0 = H.cpu_times()
        res = wl.measure(sess.spark, run_dir / "measure", NoSpans())
        extra["cpu_steal_pct"] = H.steal_pct(cpu0, H.cpu_times())
        if trace:
            from spark_kafka_streaming_spark.streaming.monitor import ProgressRecorder

            recorder = ProgressRecorder()
            sess.spark.streams.addListener(recorder)
            sess.job_counts()
            counts: list[tuple[int, int]] = []
            try:
                with spans.span("measure.traced"):
                    # Jobs and tasks are read when the queries end, before
                    # the benchmark's own reference jobs run.
                    traced = wl.measure(
                        sess.spark, run_dir / "traced", spans, recorder, lambda: counts.append(sess.job_counts())
                    )
            finally:
                sess.spark.streams.removeListener(recorder)
            jobs, tasks = counts[0] if counts else (0, 0)
            ids = set(traced.get("query_ids") or [traced["query_id"]])
            prog = H.progress_stats([p for p in recorder.events if p.get("id") in ids])
            with spans.span("decode.pass"):
                dec = wl.decode_pass(sess.spark, traced["input"])
            layers = wl.layer_metrics(sess.spark, traced, run_dir / "layers", spans)
            phase = {k: layers.pop(k) for k in ("attempted", "failed", "correct")}
            extra["catalog_mismatches"] = layers.pop("catalog_mismatches", [])
            metrics = per_layer(
                res, traced, prog, dec, H.dir_bytes(traced["checkpoint"]), jobs, tasks, session_s, layers
            )
            traced["attempted"] += phase["attempted"]
            traced["failed"] += phase["failed"]
            traced["correct"] = traced["correct"] and phase["correct"]
            trace_dir = H.WORK / "traces"
            trace_dir.mkdir(parents=True, exist_ok=True)
            spans.write(str(trace_dir / f"{workload}-s{seed}.json"))
            extra["correct_traced"] = traced["correct"]
            for k in ("attempted", "failed"):
                res[k] += traced[k]
        rss = sess.peak_rss_mb()
        extra["peak_rss_split_mb"] = sess.rss_split_mb()
    finally:
        sess.stop()
    if not trace:
        metrics, support = end_to_end(res, setup_s, rss)
        extra["latency_support"] = support
    extra["error_rate"] = res["failed"] / res["attempted"]
    for k in (
        "mismatched_keys", "late_planted", "late_dropped", "generator_late_ms_max", "backlog_files_max",
        "drains", "drain_events_per_s", "trigger_s",
    ):  # fmt: skip
        if k in res:
            extra[k] = res[k]
    shutil.rmtree(run_dir, ignore_errors=True)
    correct = res["correct"] and extra.get("correct_traced", True)
    return {
        "extra": extra,
        "result": {
            "correct": bool(correct),
            "attempted": int(res["attempted"]),
            "failed": int(res["failed"]),
            "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
        },
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not H.ENGINE.is_dir():
        print(f"engine package not found at {H.ENGINE}; run from the root of a checkout", file=sys.stderr)
        return 2
    names = [w["name"] for w in load_spec()["workloads"]]
    if a.workload not in names:
        print(f"unknown workload {a.workload!r}; choose from {names}", file=sys.stderr)
        return 2
    if a.seconds < 1:
        print("--seconds must be at least 1", file=sys.stderr)
        return 2
    out = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print("settings: " + json.dumps(out["extra"], default=str))
    for k, m in out["result"]["metrics"].items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"error_rate = {out['extra']['error_rate']:.6g} ({out['result']['failed']}/{out['result']['attempted']})")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
