"""Reference results, computed in plain Python from the generator's
events and the batch boundaries the engine recorded in its checkpoint.

Lateness follows Structured Streaming's rule: batch ``b`` drops a row
whose event time (or, for a window aggregate, window end) is at or
before the watermark of batch ``b - 1``; an append-mode window is
emitted once its end is at or before the eviction watermark.  Every
mismatch is returned with the batches it implicates, so the caller can
count the failed triggers.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable
from decimal import Decimal

from generator import Message, WordEvent, parse_iso_ms


def sliding_starts(ts_ms: int, window_ms: int, slide_ms: int) -> list[int]:
    """Starts of every ``window``/``slide`` window containing ``ts``
    (``window`` is a multiple of ``slide``)."""
    last = ts_ms - ts_ms % slide_ms
    return [s for s in range(last, ts_ms - window_ms, -slide_ms) if s <= ts_ms < s + window_ms]


def wordcount_expected(
    files: Iterable[tuple[int, list[WordEvent]]],
    late_wm: dict[int, int],
    window_ms: int,
    slide_ms: int,
) -> tuple[dict[tuple[int, str], int], dict[int, set[int]], list[WordEvent]]:
    """Final update-mode count per (window start, word).

    ``files`` pairs each file's batch id with its events.  Returns the
    counts, the batches contributing to each window, and the events
    that reached at least one window (the ones that have a latency)."""
    # Events in one slide-sized bucket share their windows, so words
    # are counted per (batch, bucket) before fanning out to windows.
    per_bucket: dict[tuple[int, int], Counter] = {}
    members: dict[tuple[int, int], list[WordEvent]] = {}
    for batch, events in files:
        for e in events:
            key = (batch, e.ts_ms - e.ts_ms % slide_ms)
            per_bucket.setdefault(key, Counter()).update(e.words)
            members.setdefault(key, []).append(e)
    by_window: dict[int, Counter] = {}
    sources: dict[int, set[int]] = {}
    emitted: list[WordEvent] = []
    for (batch, start), words in per_bucket.items():
        wm = late_wm.get(batch, 0)
        kept = [s for s in sliding_starts(start, window_ms, slide_ms) if s + window_ms > wm]
        if kept:
            emitted.extend(members[(batch, start)])
        for s in kept:
            by_window.setdefault(s, Counter()).update(words)
            sources.setdefault(s, set()).add(batch)
    counts = {(s, w): n for s, c in by_window.items() for w, n in c.items()}
    return counts, sources, emitted


def compare_counts(got: dict, want: dict, sources: dict[int, set[int]]) -> tuple[int, set[int]]:
    """Number of (window, word) keys whose count differs, and the
    batches that fed those windows.  A key whose window no batch fed
    implicates none."""
    bad = {k for k in set(got) | set(want) if got.get(k, 0) != want.get(k, 0)}
    batches = set()
    for s, _ in bad:
        batches |= sources.get(s, set())
    return len(bad), batches


def compare_rows(got: dict, want: dict) -> int:
    """Number of keys whose row differs or is missing on either side."""
    return sum(1 for k in set(got) | set(want) if got.get(k) != want.get(k))


def events_expected(
    files: Iterable[tuple[int, list[Message]]],
    late_wm: dict[int, int],
    evict_wm: int,
    window_ms: int,
) -> tuple[dict[tuple[int, str], tuple[int, Decimal]], int]:
    """Append-mode rows (window start, event_type) -> (count, sum) of
    the decode -> dedup-within-watermark -> tumbling-window pipeline,
    and the number of dead letters.

    Corrupt messages go to the dead letters; a row at or before its
    batch's late watermark is dropped; the first delivery of each
    ``event_id`` counts and replays do not; only windows ending at or
    before ``evict_wm`` have been emitted."""
    seen: set[int] = set()
    dead = 0
    acc: dict[tuple[int, str], list] = {}
    for batch, messages in files:
        wm = late_wm.get(batch, 0)
        for m in messages:
            if m.event is None:
                dead += 1
                continue
            ts = parse_iso_ms(m.event["ts"])
            if ts <= wm or m.event["event_id"] in seen:
                continue
            seen.add(m.event["event_id"])
            key = (ts - ts % window_ms, m.event["event_type"])
            slot = acc.setdefault(key, [0, Decimal(0)])
            slot[0] += 1
            slot[1] += Decimal(str(m.event["value"]))
    rows = {k: (n, s) for k, (n, s) in acc.items() if k[0] + window_ms <= evict_wm}
    return rows, dead


def expected_watermark(files: Iterable[tuple[int, list[Message]]], before_batch: int, delay_ms: int) -> int:
    """The watermark a batch should carry: the largest event time of
    valid rows in earlier batches, minus the delay (0 with none)."""
    latest = None
    for batch, messages in files:
        if batch >= before_batch:
            continue
        for m in messages:
            if m.event is not None:
                ts = parse_iso_ms(m.event["ts"])
                latest = ts if latest is None else max(latest, ts)
    return 0 if latest is None else max(0, latest - delay_ms)


def greedy_accepted(trigger_of: dict[int, int], pairs: Iterable[tuple[int, int]]) -> set[int]:
    """The documents an incremental near-duplicate filter keeps, replayed
    from the batch pair list in arrival (id) order: a document is
    rejected when a verified pair links it to an earlier document of its
    own trigger, or to one accepted in an earlier trigger."""
    partners: dict[int, list[int]] = {}
    for a, b in pairs:
        lo, hi = min(a, b), max(a, b)
        partners.setdefault(hi, []).append(lo)
    kept: set[int] = set()
    for i in sorted(trigger_of):
        if not any(trigger_of.get(j) == trigger_of[i] or j in kept for j in partners.get(i, ())):
            kept.add(i)
    return kept


def same_rows(got: Iterable[tuple], want: Iterable[tuple]) -> bool:
    """Order-insensitive equality of two result sets, row count included."""
    a = sorted(got, key=repr)
    b = sorted(want, key=repr)
    return len(a) == len(b) and a == b
