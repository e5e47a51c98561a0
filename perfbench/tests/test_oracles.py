"""Each reference reproduces the engine's observed semantics and
catches a planted wrong result."""

from collections import Counter
from decimal import Decimal

import generator as G
import oracles as O

T0 = G.EPOCH_MS


def _ev(seq, ts_s, word):
    return G.WordEvent(seq, 0, T0 + ts_s * 1000, (word,), False)


def test_sliding_starts():
    assert O.sliding_starts(25_000, 20_000, 10_000) == [20_000, 10_000]
    assert O.sliding_starts(20_000, 20_000, 10_000) == [20_000, 10_000]


def test_wordcount_late_rule_matches_engine():
    """Four single-file batches through a 20 s / 10 s window with a
    10 s watermark.  The rows are what Spark 4.1 emitted for this input:
    batch 2 filters lateness by batch 1's watermark (so ``c`` keeps its
    window ending at 03:00 although batch 2's own watermark is 03:10),
    and batch 3 drops ``f`` entirely."""
    files = [(0, [_ev(0, 100, "a")]), (1, [_ev(1, 200, "b")]),
             (2, [_ev(2, 175, "c"), _ev(3, 185, "d"), _ev(4, 195, "e")]),
             (3, [_ev(5, 150, "f")])]  # fmt: skip
    evict = {0: 0, 1: T0 + 90_000, 2: T0 + 190_000, 3: T0 + 190_000}
    counts, sources, emitted = O.wordcount_expected(files, {b: evict.get(b - 1, 0) for b in evict}, 20_000, 10_000)
    observed = {
        (90, "a"), (100, "a"), (160, "c"), (170, "c"), (170, "d"),
        (180, "d"), (180, "e"), (190, "b"), (190, "e"), (200, "b"),
    }  # fmt: skip
    assert counts == {(T0 + s * 1000, w): 1 for s, w in observed}
    assert "f" not in {e.words[0] for e in emitted}
    assert sources[T0 + 160_000] == {2}


def test_wordcount_oracle_catches_planted_error():
    files = list(enumerate(G.wordcount_events(3, 8, 200, 0.25)))
    want, sources, _ = O.wordcount_expected(files, {b: 0 for b in range(8)}, 60_000, 10_000)
    assert O.compare_counts(dict(want), want, sources) == (0, set())
    wrong = dict(want)
    key = next(iter(wrong))
    wrong[key] += 1
    n_bad, batches = O.compare_counts(wrong, want, sources)
    assert n_bad == 1 and batches == sources[key[0]]
    missing = dict(want)
    del missing[key]
    assert O.compare_counts(missing, want, sources)[0] == 1


def _events_files(seed=4, files=12, per_file=500, per_batch=4):
    return [(k // per_batch, msgs) for k, msgs in enumerate(G.events_messages(seed, files, per_file))]


def test_events_oracle_dedups_drops_late_and_counts_dead_letters():
    data = _events_files()
    msgs = [m for _, ms in data for m in ms]
    wm = {b: O.expected_watermark(data, b + 1, 30_000) for b in range(3)}
    late_wm = {b: wm.get(b - 1, 0) for b in range(3)}
    rows, dead = O.events_expected(data, late_wm, wm[2], 60_000)
    assert dead == sum(m.event is None for m in msgs)
    kept = {
        m.event["event_id"]
        for b, ms in data
        for m in ms
        if m.event is not None and G.parse_iso_ms(m.event["ts"]) > late_wm[b]
    }
    planted_late = {m.event["event_id"] for m in msgs if m.late and not m.replay}
    assert planted_late and not planted_late & kept
    emitted = sum(n for n, _ in rows.values())
    assert 0 < emitted <= len(kept)
    assert all(ws + 60_000 <= wm[2] for ws, _ in rows)
    assert all(isinstance(s, Decimal) for _, s in rows.values())


def test_events_oracle_catches_planted_errors():
    data = _events_files()
    wm = {b: O.expected_watermark(data, b + 1, 30_000) for b in range(3)}
    rows, _ = O.events_expected(data, {b: wm.get(b - 1, 0) for b in range(3)}, wm[2], 60_000)
    assert O.compare_rows(dict(rows), rows) == 0
    key = next(iter(rows))
    n, s = rows[key]
    assert O.compare_rows({**rows, key: (n + 1, s)}, rows) == 1
    assert O.compare_rows({**rows, key: (n, s + Decimal("0.01"))}, rows) == 1
    extra = {**rows, (0, "nope"): (1, Decimal(1))}
    assert O.compare_rows(extra, rows) == 1
    # counting replays (no dedup) would be caught
    no_dedup = Counter()
    for _, ms in data:
        for m in ms:
            if m.event is not None:
                no_dedup[m.event["event_id"]] += 1
    assert max(no_dedup.values()) > 1


def test_expected_watermark_ignores_corrupt_and_later_batches():
    data = _events_files()
    assert O.expected_watermark(data, 0, 30_000) == 0
    first = max(G.parse_iso_ms(m.event["ts"]) for m in data[0][1] if m.event)
    assert O.expected_watermark(data[:1], 1, 30_000) == first - 30_000


def test_greedy_replay_follows_trigger_boundaries():
    """Doc 3 repeats doc 1 in the same trigger and doc 5 repeats doc 3
    (rejected, so it does not block doc 5); doc 6 repeats doc 2, which
    an earlier trigger accepted."""
    trig = {1: 0, 2: 0, 3: 0, 4: 1, 5: 1, 6: 1}
    pairs = [(1, 3), (3, 5), (2, 6)]
    kept = O.greedy_accepted(trig, pairs)
    assert kept == {1, 2, 4, 5}
    # A filter that let the within-trigger repeat through is caught.
    assert kept != {1, 2, 3, 4, 5}


def test_same_rows_is_order_insensitive_and_catches_a_changed_row():
    want = [(1, "a", 2.5), (2, "b", None)]
    assert O.same_rows(list(reversed(want)), want)
    assert not O.same_rows([(1, "a", 2.5), (2, "b", 0.0)], want)
    assert not O.same_rows(want + [want[0]], want)
