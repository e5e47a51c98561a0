"""Seeded load generator: lands Kafka-frame JSON files into a watched
directory, one file per schedule slot, on a fixed schedule.

The same ``--seed`` always produces byte-identical files: event-time
stamps come from a fixed schedule clock (``EPOCH_MS`` plus each
event's scheduled offset), never from the wall clock.  The wall clock
only decides *when* a file lands; the benchmark maps schedule offset
0 to the ``--start-at`` instant to time each event from its scheduled
creation.

Two kinds of stream:

* ``wordcount`` — ``value`` is 8 words drawn from the word frequencies
  of the engine's test corpus (``WORD_COUNTS``).  5% of events carry
  an event time up to 5 s older than their creation (disorder well
  under the query's watermark); 1% are stamped 120-180 s old (late by
  well over it).  Late events start after the first 3 s of schedule so
  the query has a watermark by the time they arrive.
* ``events`` — ``value`` is an event record as JSON (the repository's
  ``EVENTS_SCHEMA``) with user, type and value drawn as in the test
  data's ``events`` table.  1% of messages are
  corrupt payloads, 5% re-deliver an earlier event (same ``event_id``
  and payload, an at-least-once replay), 10% are disordered by up to
  5 s and 1% are 10-15 min late (only from file 8 on).
* ``docs`` — one JSON document per line (``doc_id``, ``text``,
  ``embedding``), shaped like the test data's ``documents`` and
  ``embeddings`` tables: 10-100 words from ``WORD_COUNTS``, 5% planted
  near-duplicates, 64-dimensional random unit vectors.

Where a parameter comes from: the word frequencies, the ``events``
draws and the document shapes were measured on the engine's test data
(seed 42, ``sf0.1``: 5,000 documents, 2,000 embeddings, 100,000
events) and are written here as constants, because the benchmark reads
nothing outside its checkout.  The rates of disorder, corruption,
replay and lateness, and the 8 words per message, are the benchmark's
own choices.

Files are written under a dot-name (the file source skips those) and
renamed into place, so the engine never sees a partial file.  Run as a
process of its own:

    python3 perfbench/generator.py --kind wordcount --seed 1 --out DIR \
        --files 80 --per-file 500 --interval 0.25 --start-at T --log LOG

With ``--backlog`` every file is due at ``--start-at``; ``--interval``
then only spaces the events' creation stamps.
The log is one JSON object: the schedule and, per file, when it was due
and when it landed.
"""

from __future__ import annotations

import argparse
import calendar
import itertools
import json
import os
import random
import time
from collections.abc import Iterator
from dataclasses import dataclass

#: Event-time origin of every generated stream (2024-01-01T00:00:00Z).
EPOCH_MS = 1_704_067_200_000
#: Largest backward shift of a disordered event, well under every watermark.
DISORDER_MAX_MS = 5_000

#: Word counts of the test data's ``documents.text`` (sf0.1, 270,704
#: tokens): 30 words drawn uniformly, plus the ``dup`` marker its
#: planted near-duplicates carry.
WORD_COUNTS = {
    "spark": 9182, "window": 9159, "merge": 9157, "table": 9144, "column": 9127,
    "vector": 9119, "stream": 9117, "value": 9112, "data": 9104, "small": 9100,
    "join": 9080, "filter": 9063, "big": 9057, "group": 9040, "hash": 9024,
    "customer": 9017, "sort": 9005, "order": 8971, "slow": 8960, "line": 8951,
    "part": 8929, "fast": 8926, "row": 8925, "the": 8925, "agg": 8912,
    "key": 8893, "query": 8881, "a": 8877, "scan": 8863, "batch": 8829, "dup": 255,
}  # fmt: skip
WC_WORDS_PER_MSG = 8
WC_DISORDER_P = 0.05
WC_LATE_P = 0.01
WC_LATE_MS = (120_000, 180_000)
WC_LATE_AFTER_MS = 3_000

#: The test data's ``events`` table: 1,500 users, each about equally
#: often (66 ± 8 events); five types, each 19.8-20.3%; ``value`` with
#: median 34.77, mean 49.87 and 90th percentile 114.3, as an exponential
#: of mean 50 gives (34.66, 50, 115.1), rounded to cents; ``props`` is
#: ``{"k": n}`` with n in 0-99.
EV_TYPES = ("click", "view", "purchase", "signup", "error")
EV_USERS = 1_500
EV_VALUE_MEAN = 50.0
EV_STEP_MS = 10
EV_CORRUPT_P = 0.01
EV_REPLAY_P = 0.05
EV_REPLAY_WINDOW = 200
EV_DISORDER_P = 0.10
EV_LATE_P = 0.01
EV_LATE_MS = (600_000, 900_000)
#: Late rows start at this file: with four files per trigger that is the
#: third batch, the first whose late filter has a watermark to apply.
EV_LATE_FROM_FILE = 8


def iso_ms(ms: int) -> str:
    """Epoch milliseconds -> ``YYYY-MM-DDTHH:MM:SS.mmmZ`` (UTC)."""
    secs, frac = divmod(ms, 1000)
    return time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(secs)) + f".{frac:03d}Z"


def parse_iso_ms(text: str) -> int:
    """Inverse of :func:`iso_ms`."""
    secs = calendar.timegm(time.strptime(text[:19], "%Y-%m-%dT%H:%M:%S"))
    return secs * 1000 + int(text[20:23])


def _word_cum() -> tuple[list[str], list[int]]:
    return list(WORD_COUNTS), list(itertools.accumulate(WORD_COUNTS.values()))


@dataclass(frozen=True)
class WordEvent:
    seq: int
    created_ms: int  # scheduled creation, offset from schedule start
    ts_ms: int  # event time as stamped in the message
    words: tuple[str, ...]
    late: bool


def wordcount_events(seed: int, files: int, per_file: int, interval_s: float) -> Iterator[list[WordEvent]]:
    """The events of each file, in landing order, one file at a time.

    Event ``i`` is created at ``i * interval / per_file`` seconds into
    the schedule, so a file holds the events created during its slot
    and is due when its last event has been created."""
    rng = random.Random(f"wordcount:{seed}")
    vocab, cum = _word_cum()
    step_ms = interval_s * 1000.0 / per_file
    for f in range(files):
        batch = []
        for j in range(per_file):
            i = f * per_file + j
            created = int(i * step_ms)
            words = tuple(rng.choices(vocab, cum_weights=cum, k=WC_WORDS_PER_MSG))
            u = rng.random()
            late = u < WC_LATE_P and created >= WC_LATE_AFTER_MS
            if late:
                ts = created - rng.randint(*WC_LATE_MS)
            elif u < WC_LATE_P + WC_DISORDER_P:
                ts = created - rng.randint(1, DISORDER_MAX_MS)
            else:
                ts = created
            batch.append(WordEvent(i, created, EPOCH_MS + ts, words, late))
        yield batch


def wordcount_lines(events: list[WordEvent]) -> list[str]:
    return [
        json.dumps(
            {"key": str(e.seq), "value": " ".join(e.words), "timestamp": iso_ms(e.ts_ms)},
            separators=(",", ":"),
        )
        for e in events
    ]


@dataclass(frozen=True)
class Message:
    """One Kafka frame of the ``events`` stream.  ``event`` is None for
    a corrupt payload; ``replay`` marks an at-least-once re-delivery."""

    pos: int
    event: dict | None
    raw: str
    replay: bool
    late: bool


def events_messages(seed: int, files: int, per_file: int) -> Iterator[list[Message]]:
    rng = random.Random(f"events:{seed}")
    recent: list[tuple[dict, str, bool]] = []
    next_id = 0
    for f in range(files):
        batch = []
        for j in range(per_file):
            pos = f * per_file + j
            u = rng.random()
            if u < EV_CORRUPT_P:
                raw = '{"event_id": %d, "ts": "%s", "user_id": ' % (
                    rng.randint(0, 10**9),
                    iso_ms(EPOCH_MS + pos * EV_STEP_MS),
                )
                batch.append(Message(pos, None, raw, False, False))
                continue
            if u < EV_CORRUPT_P + EV_REPLAY_P and recent:
                ev, raw, late = recent[rng.randrange(len(recent))]
                batch.append(Message(pos, ev, raw, True, late))
                continue
            ts = EPOCH_MS + next_id * EV_STEP_MS
            late = False
            v = rng.random()
            if v < EV_LATE_P and f >= EV_LATE_FROM_FILE:
                ts -= rng.randint(*EV_LATE_MS)
                late = True
            elif v < EV_LATE_P + EV_DISORDER_P:
                ts -= rng.randint(1, DISORDER_MAX_MS)
            ev = {
                "event_id": next_id,
                "ts": iso_ms(ts),
                "user_id": rng.randrange(EV_USERS),
                "event_type": rng.choice(EV_TYPES),
                "value": round(rng.expovariate(1.0 / EV_VALUE_MEAN), 2),
                "props": json.dumps({"k": rng.randint(0, 99)}),
            }
            raw = json.dumps(ev, separators=(",", ":"), sort_keys=True)
            next_id += 1
            recent.append((ev, raw, late))
            if len(recent) > EV_REPLAY_WINDOW:
                recent.pop(0)
            batch.append(Message(pos, ev, raw, False, late))
        yield batch


def events_lines(messages: list[Message]) -> list[str]:
    return [
        json.dumps(
            {
                "key": str(m.event["user_id"]) if m.event else None,
                "value": m.raw,
                "timestamp": iso_ms(EPOCH_MS + m.pos * EV_STEP_MS),
            },
            separators=(",", ":"),
        )
        for m in messages
    ]


#: The test data's ``documents``: 10-100 words each, uniformly; 5% are
#: an earlier document with `` dup`` appended (Jaccard 0.9-0.99 to it).
#: Its ``embeddings`` are 64-dimensional unit vectors with no cluster
#: structure (each label's mean has norm 0.06-0.07).
DOC_WORDS = (10, 100)
DOC_DUP_P = 0.05
DOC_DIM = 64


@dataclass(frozen=True)
class Doc:
    doc_id: int
    text: str
    embedding: tuple[float, ...]
    dup_of: int | None


def documents(seed: int, files: int, per_file: int) -> Iterator[list[Doc]]:
    rng = random.Random(f"docs:{seed}")
    words = [w for w in WORD_COUNTS if w != "dup"]
    texts: list[str] = []
    for f in range(files):
        batch = []
        for j in range(per_file):
            doc_id = f * per_file + j
            dup_of = None
            if texts and rng.random() < DOC_DUP_P:
                dup_of = rng.randrange(len(texts))
                text = texts[dup_of] + " dup"
            else:
                text = " ".join(rng.choice(words) for _ in range(rng.randint(*DOC_WORDS)))
            v = [rng.gauss(0.0, 1.0) for _ in range(DOC_DIM)]
            norm = sum(x * x for x in v) ** 0.5
            texts.append(text)
            batch.append(Doc(doc_id, text, tuple(round(x / norm, 7) for x in v), dup_of))
        yield batch


def documents_lines(docs: list[Doc]) -> list[str]:
    return [
        json.dumps({"doc_id": d.doc_id, "text": d.text, "embedding": list(d.embedding)}, separators=(",", ":"))
        for d in docs
    ]


def file_name(index: int) -> str:
    return f"part-{index:06d}.json"


def land(out_dir: str, index: int, lines: list[str]) -> None:
    """Write one file under a hidden name, then rename it into place.
    Its mtime is set to a fixed value that grows with ``index`` so the
    file source (which orders by modification time) reads files in
    schedule order whatever the clock does."""
    name = file_name(index)
    tmp = os.path.join(out_dir, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    stamp = 1_000_000_000 + index
    os.utime(tmp, (stamp, stamp))
    os.rename(tmp, os.path.join(out_dir, name))


def run(
    kind: str,
    seed: int,
    out_dir: str,
    files: int,
    per_file: int,
    interval_s: float,
    start_at: float,
    backlog: bool,
) -> dict:
    if kind == "wordcount":
        batches = map(wordcount_lines, wordcount_events(seed, files, per_file, interval_s))
    elif kind == "events":
        batches = map(events_lines, events_messages(seed, files, per_file))
    elif kind == "docs":
        batches = map(documents_lines, documents(seed, files, per_file))
    else:
        raise ValueError(f"unknown stream kind {kind!r}")
    os.makedirs(out_dir, exist_ok=True)
    log = []
    for k, lines in enumerate(batches):
        due = start_at if backlog else start_at + (k + 1) * interval_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        land(out_dir, k, lines)
        log.append({"file": file_name(k), "due": due, "landed": time.time(), "events": len(lines)})
    late_ms = [max(0.0, (e["landed"] - e["due"]) * 1000.0) for e in log]
    return {
        "kind": kind,
        "seed": seed,
        "start_at": start_at,
        "interval_s": interval_s,
        "backlog": backlog,
        "files": log,
        "events": sum(e["events"] for e in log),
        "late_ms_max": max(late_ms, default=0.0),
    }


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--kind", required=True, choices=("wordcount", "events", "docs"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--per-file", type=int, required=True)
    ap.add_argument("--interval", type=float, default=0.25)
    ap.add_argument("--backlog", action="store_true")
    ap.add_argument("--start-at", type=float, default=None)
    ap.add_argument("--log", required=True)
    a = ap.parse_args(argv)
    if a.files < 1 or a.per_file < 1 or a.interval <= 0:
        ap.error("--files and --per-file must be >= 1 and --interval > 0")
    start = time.time() if a.start_at is None else a.start_at
    summary = run(a.kind, a.seed, a.out, a.files, a.per_file, a.interval, start, a.backlog)
    tmp = a.log + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(summary, fh)
    os.rename(tmp, a.log)


if __name__ == "__main__":
    main()
