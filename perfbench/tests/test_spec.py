"""BENCHMARK.json is well formed and names exactly what run.py reports."""

import re

import pytest

import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")


@pytest.fixture(scope="module")
def spec():
    return run.load_spec()


def test_top_level_keys(spec):
    assert set(spec) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert spec["command"][0] == "python3" and len(spec["command"]) <= 32
    assert all(len(a) <= 200 for a in spec["command"])
    assert 1 <= len(spec["paths"]) <= 16
    for p in spec["paths"]:
        assert PATH.match(p) and not p.startswith("/") and ".." not in p.split("/")
    assert all(a.startswith(tuple(spec["paths"])) for a in spec["command"][1:] if "/" in a)
    assert isinstance(spec["run_seconds"], int) and 1 <= spec["run_seconds"] <= 60


def test_names_units_and_bounds(spec):
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert 2 <= len(spec["workloads"]) <= 8
    for w in spec["workloads"]:
        assert set(w) == {"name", "why"} and 0 < len(w["why"]) <= 200 and "\n" not in w["why"]
    assert 1 <= len(spec["end_to_end"]) <= 16
    for m in spec["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
        assert 0 < m["bound"] <= 0.25
    assert 1 <= len(spec["per_layer"]) <= 128
    for m in spec["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"])


def test_workloads_resolve(spec):
    for w in spec["workloads"]:
        assert run.workload_class(w["name"]).name == w["name"]


def _fake_result():
    return {
        "latency_ms": [float(i) for i in range(100)],
        "latency_groups": list(range(100)),
        "throughput": 1000.0,
        "headline": 50.0,
        "backlog_files_max": 3,
        "sink_rows_out": 10,
        "events": 100,
        "generator_late_ms_max": 1.5,
        "attempted": 10,
    }


def test_end_to_end_metrics_match_spec(spec):
    metrics, support = run.end_to_end(_fake_result(), 12.0, 900.0)
    assert set(metrics) == {m["name"] for m in spec["end_to_end"]}
    assert support["p90"]["supported"]


def test_per_layer_metrics_match_spec(spec):
    prog = {
        k: 1.0
        for k in (
            "triggers", "rows_per_trigger", "trigger_ms", "overhead_ms", "planning_ms",
            "wal_commit_ms", "commit_offsets_ms", "add_batch_ms", "state_commit_ms",
            "state_update_ms", "state_rows_total", "state_memory_bytes", "state_rows_dropped",
        )
    }  # fmt: skip
    dec = {"ms": 1.0, "rows_in": 1, "rows_out": 1, "dead_letters": 0}
    metrics = run.per_layer(_fake_result(), _fake_result(), prog, dec, 1, 2, 3, 4.0)
    assert set(metrics) == {m["name"] for m in spec["per_layer"]}


def test_corpus_layers_match_spec(spec, tmp_path):
    import types

    import corpus

    calls = {k: [9.0, 1.0, 3.0] for k in corpus.CHAIN_CALLS}
    (tmp_path / "sig").mkdir()
    (tmp_path / "sig" / "part-0.parquet").write_bytes(b"x" * 10)
    stores = types.SimpleNamespace(d=tmp_path, calls=calls)
    client = [("bm25", 50.0, True), ("bm25", 5.0, True), ("bm25", 7.0, True), ("hybrid", 9.0, False)]
    layers = corpus.layer_stats(stores, client, 95, 100)
    assert set(layers) == set(corpus.LAYERS)
    # The first (cold) call of each kind is left out of its p50.
    assert layers["incremental_dedup.call_ms"] == 2.0 and layers["incremental_index.bm25_ms"] == 6.0
    assert layers["fold.store_files"] == 1 and layers["fold.store_bytes"] == 10
    assert layers["serving.calls"] == 4 and layers["serving.hybrid_ms"] == 0.0
    names = {m["name"] for m in spec["per_layer"]}
    import catalog

    assert set(corpus.LAYERS) | set(catalog.LAYERS) <= names
