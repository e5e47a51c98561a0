import filecmp
import json
import os
import subprocess
import sys
from pathlib import Path

import generator as G

GEN = Path(G.__file__)


def _land(tmp: Path, name: str, kind: str, seed: int) -> Path:
    out = tmp / name
    subprocess.run(
        [sys.executable, str(GEN), "--kind", kind, "--seed", str(seed), "--out", str(out),
         "--files", "3", "--per-file", "400", "--interval", "0.25", "--backlog",
         "--log", str(tmp / f"{name}.json")],
        check=True, timeout=60,
    )  # fmt: skip
    return out


def _same_tree(a: Path, b: Path) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_same_seed_gives_byte_identical_files(tmp_path):
    for kind in ("wordcount", "events", "docs"):
        a = _land(tmp_path, f"{kind}_a", kind, 7)
        b = _land(tmp_path, f"{kind}_b", kind, 7)
        c = _land(tmp_path, f"{kind}_c", kind, 8)
        assert sorted(os.listdir(a)) == [G.file_name(k) for k in range(3)]
        assert _same_tree(a, b)
        assert not _same_tree(a, c)


def test_files_land_in_schedule_order_without_temp_leftovers(tmp_path):
    out = _land(tmp_path, "wc", "wordcount", 1)
    assert not [n for n in os.listdir(out) if n.startswith(".")]
    mtimes = [os.stat(out / G.file_name(k)).st_mtime for k in range(3)]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3
    log = json.loads((tmp_path / "wc.json").read_text())
    assert log["events"] == 1200 and len(log["files"]) == 3
    assert log["late_ms_max"] >= 0.0


def test_wordcount_stream_shape():
    files = list(G.wordcount_events(5, 40, 500, 0.25))
    events = [e for f in files for e in f]
    assert [e.seq for e in events] == list(range(len(events)))
    assert all(len(e.words) == G.WC_WORDS_PER_MSG for e in events)
    late = [e for e in events if e.late]
    assert 0.005 < len(late) / len(events) < 0.02
    assert all(e.created_ms >= G.WC_LATE_AFTER_MS for e in late)
    on_time = [e for e in events if not e.late]
    assert all(0 <= G.EPOCH_MS + e.created_ms - e.ts_ms <= G.DISORDER_MAX_MS for e in on_time)
    # The measured word frequencies: 30 words about equally often, and
    # the rare ``dup`` marker.
    from collections import Counter

    counts = Counter(w for e in events for w in e.words)
    assert set(counts) <= set(G.WORD_COUNTS)
    common = [n for w, n in counts.items() if w != "dup"]
    assert len(common) == 30 and max(common) < 1.2 * min(common)
    assert counts["dup"] < min(common) / 10


def test_events_stream_shape():
    msgs = [m for f in G.events_messages(5, 10, 2000) for m in f]
    corrupt = [m for m in msgs if m.event is None]
    replays = [m for m in msgs if m.replay]
    assert 0.005 < len(corrupt) / len(msgs) < 0.02
    assert 0.03 < len(replays) / len(msgs) < 0.07
    for m in corrupt:
        try:
            json.loads(m.raw)
        except json.JSONDecodeError:
            continue
        raise AssertionError(f"corrupt payload parses: {m.raw}")
    firsts = {}
    for m in msgs:
        if m.event is not None and not m.replay:
            firsts[m.event["event_id"]] = m
    assert all(r.raw == firsts[r.event["event_id"]].raw for r in replays)
    late = [m for m in msgs if m.late and not m.replay]
    assert late and all(m.pos >= G.EV_LATE_FROM_FILE * 2000 for m in late)


def test_documents_shape():
    docs = [d for f in G.documents(5, 4, 500) for d in f]
    assert [d.doc_id for d in docs] == list(range(2000))
    dups = [d for d in docs if d.dup_of is not None]
    assert 0.03 < len(dups) / len(docs) < 0.07
    assert all(d.text == docs[d.dup_of].text + " dup" and d.dup_of < d.doc_id for d in dups)
    fresh = [len(d.text.split()) for d in docs if d.dup_of is None]
    assert min(fresh) >= G.DOC_WORDS[0] and max(fresh) <= G.DOC_WORDS[1]
    assert all(len(d.embedding) == G.DOC_DIM and abs(sum(x * x for x in d.embedding) - 1.0) < 1e-5 for d in docs)


def test_catalog_tables_match_the_test_data_schema(tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    import catalog

    catalog.stage_tables(3, tmp_path)
    want = {
        "documents": [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                      ("source", pa.string()), ("n_chars", pa.int64())],
        "embeddings": [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())],
        "events": [("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                   ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string())],
        "nation": [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())],
    }  # fmt: skip
    for table, cols in want.items():
        schema = pq.read_schema(tmp_path / f"{table}.parquet")
        assert [(f.name, f.type) for f in schema] == cols, table
    assert pq.read_metadata(tmp_path / "documents.parquet").num_rows == catalog.DOCS
    assert pq.read_metadata(tmp_path / "events.parquet").num_rows == catalog.EVENTS
