"""Tests of the benchmark's own input generator and expected-state model
(tiny seeds, no Spark)."""

from __future__ import annotations

import base64
import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import wire  # noqa: E402
from workloads import expected_feed  # noqa: E402


def _decode_precise(v: dict) -> int:
    raw = base64.b64decode(v["value"])
    assert v["scale"] == 2
    return int.from_bytes(raw, "big", signed=True)


def test_precise_is_minimal_twos_complement():
    # Java BigInteger.toByteArray widths: the sign bit must fit
    cases = {0: 1, 1: 1, 127: 1, 128: 2, -128: 1, -129: 2, 32767: 2, 32768: 3, -1: 1, 9_999_999: 4}
    for cents, width in cases.items():
        v = wire.encode_amount(cents, "precise")
        assert len(base64.b64decode(v["value"])) == width, cents
        assert _decode_precise(v) == cents


def test_string_and_double_modes():
    assert wire.encode_amount(45938, "string") == "459.38"
    assert wire.encode_amount(-5, "string") == "-0.05"
    assert wire.encode_amount(100, "string") == "1.00"
    assert round(wire.encode_amount(45938, "double"), 2) == 459.38


def test_envelopes_parse_in_every_mode():
    chs = wire.backfill_changes(7, 30)
    for mode in ("precise", "string", "double"):
        for ch in chs:
            env = json.loads(wire.envelope(ch, mode))
            assert env["op"] == ch.op and env["source"]["lsn"] == ch.lsn
            assert (env["after"] is None) == (ch.op == "d")
            assert (env["before"] is None) == (ch.op == "c")
            if ch.after is not None and mode == "precise":
                assert _decode_precise(env["after"]["amount"]) == ch.after.cents


def test_backfill_history_shape():
    chs = wire.backfill_changes(3, 400, delete_frac=0.05)
    assert [c.lsn for c in chs] == sorted(c.lsn for c in chs)
    first: dict[str, str] = {}
    last: dict[str, str] = {}
    for c in chs:
        first.setdefault(c.key, c.op)
        last[c.key] = c.op
    assert set(first.values()) == {"c"}
    assert sum(op == "d" for op in last.values()) == 20
    assert len(first) == 400


def test_fold_ignores_duplicates_and_arrival_order():
    chs = wire.backfill_changes(5, 200)
    want = wire.fold(chs)
    noisy = wire.disorder(chs, random.Random(1), dup_frac=0.2, swap_frac=0.3, reach=50)
    assert len(noisy) > len(chs)
    assert wire.fold(noisy) == want
    random.Random(2).shuffle(noisy)
    assert wire.fold(noisy) == want
    assert wire.state_digest(wire.fold(noisy)) == wire.state_digest(want)


def test_disorder_reorders_within_key():
    chs = wire.backfill_changes(5, 200)
    noisy = wire.disorder(chs, random.Random(1), dup_frac=0.0, swap_frac=0.3, reach=50)
    seen: dict[str, int] = {}
    inversions = 0
    for c in noisy:
        if c.lsn < seen.get(c.key, -1):
            inversions += 1
        seen[c.key] = max(seen.get(c.key, -1), c.lsn)
    assert inversions > 0


def test_update_stream_carries_late_lower_lsn_changes_and_duplicates():
    s = wire.UpdateStream(11, 500)
    files = [s.next_file(40) for _ in range(30)]
    files.append(s.flush_held())
    newest: dict[str, int] = {}
    late = dups = 0
    seen = set()
    for f in files:
        for c in f:
            if (c.key, c.lsn) in seen:
                dups += 1
            seen.add((c.key, c.lsn))
            if c.lsn < newest.get(c.key, -1):
                late += 1
        for c in f:
            newest[c.key] = max(newest.get(c.key, -1), c.lsn)
    assert late > 0 and dups > 0
    ops = {c.op for f in files for c in f}
    assert ops == {"c", "u", "d"}
    # every generated change is delivered at least once
    delivered = {(c.key, c.lsn) for f in files for c in f}
    assert len(delivered) == s.g.lsn - 500


def test_generation_is_seeded():
    a = [wire.envelope(c, "precise") for c in wire.backfill_changes(9, 50)]
    b = [wire.envelope(c, "precise") for c in wire.backfill_changes(9, 50)]
    c = [wire.envelope(c, "precise") for c in wire.backfill_changes(10, 50)]
    assert a == b and a != c


def test_digest_is_order_insensitive_and_sensitive_to_values():
    lines = ["a|1", "b|2", "c|3"]
    assert wire.digest_lines(lines) == wire.digest_lines(reversed(lines))
    assert wire.digest_lines(lines) != wire.digest_lines(["a|1", "b|2", "c|4"])


def test_expected_feed_types():
    img = wire.WireGen(1).image()
    old = {"k1": (1, 1, img), "k2": (2, 2, img), "k3": (3, 3, None), "k4": (4, 4, img)}
    new = {"k1": (5, 5, img), "k2": (6, 6, None), "k3": (7, 7, img), "k4": (4, 4, img), "k5": (8, 8, img)}
    assert expected_feed(old, new) == {
        ("k1", "update_postimage"),
        ("k2", "delete"),
        ("k3", "insert"),
        ("k5", "insert"),
    }
