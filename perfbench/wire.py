"""Seeded Debezium change-event generator and closed-form expected state.

Plain Python on purpose: the benchmark must not build its inputs with the
program under test (``sources.generator`` / ``cdc.encode``), so a bug there
cannot hide a bug in the decoder.  Everything here is a pure function of
the seed and the sizes passed in.

Wire shape (one envelope JSON per line, the shape ``parse_envelope`` reads
from a ``value`` column)::

    {"before": img|null, "after": img|null, "op": "c"|"u"|"d",
     "ts_ms": int, "source": {"lsn": int, "table": "transactions", "db": "shop"}}

``amount`` is encoded per Debezium ``decimal.handling.mode``: ``precise``
(base64 big-endian two's complement of the unscaled value + scale),
``string`` or ``double``.
"""

from __future__ import annotations

import base64
import bisect
import itertools
import json
import random
import time
import zlib
from dataclasses import dataclass

EPOCH_S = 1_704_067_200  # 2024-01-01T00:00:00Z
NULL = "\\N"  # how a SQL NULL renders in a canonical row line

_CURRENCIES = ("USD", "EUR", "GBP", "JPY", "TND", "CAD")
_CITIES = ("Tunis", "Paris", "Berlin", "Austin", "Osaka", "Lagos", "Lima", "Oslo")
_COUNTRIES = ("TN", "FR", "DE", "US", "JP", "NG", "PE", "NO")
_MERCHANTS = tuple(f"merchant_{i:03d}" for i in range(200))
_PAYMENTS = ("credit_card", "debit_card", "paypal", "bank_transfer", "wallet")


@dataclass(frozen=True, slots=True)
class Image:
    """One row image of the ``transactions`` table (amount in cents)."""

    user_id: str
    ts_s: int
    cents: int
    currency: str
    city: str
    country: str
    merchant: str
    payment: str
    ip: str
    voucher: str
    affiliate: str


@dataclass(frozen=True, slots=True)
class Change:
    key: str
    op: str  # c | u | d
    lsn: int
    ts_ms: int
    before: Image | None
    after: Image | None


def decimal_str(cents: int) -> str:
    """Cents as the canonical DECIMAL(18,2) string Spark prints."""
    sign = "-" if cents < 0 else ""
    a = abs(cents)
    return f"{sign}{a // 100}.{a % 100:02d}"


def encode_amount(cents: int, mode: str):
    """Wire value of an amount under a Debezium decimal handling mode."""
    if mode == "precise":
        # minimal two's-complement width, as Java's BigInteger.toByteArray
        width = ((cents if cents >= 0 else ~cents).bit_length() + 8) // 8
        raw = cents.to_bytes(width, "big", signed=True)
        return {"scale": 2, "value": base64.b64encode(raw).decode("ascii")}
    if mode == "string":
        return decimal_str(cents)
    if mode == "double":
        return cents / 100
    raise ValueError(f"unknown decimal mode {mode!r}")


def ts_str(ts_s: int) -> str:
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(EPOCH_S + ts_s))


def _image_wire(key: str, img: Image | None, mode: str) -> str:
    # hand-built JSON: every field is generated ASCII without quotes or
    # backslashes, and json.dumps on a nested dict costs ~4x more per event
    if img is None:
        return "null"
    amount = json.dumps(encode_amount(img.cents, mode), separators=(",", ":"))
    return (
        f'{{"transaction_id":"{key}","user_id":"{img.user_id}",'
        f'"timestamp":"{ts_str(img.ts_s)}","amount":{amount},'
        f'"currency":"{img.currency}","city":"{img.city}","country":"{img.country}",'
        f'"merchant_name":"{img.merchant}","payment_method":"{img.payment}",'
        f'"ip_address":"{img.ip}","voucher_code":"{img.voucher}",'
        f'"affiliate_id":"{img.affiliate}"}}'
    )


def envelope(ch: Change, mode: str) -> str:
    """One Debezium JSON envelope line."""
    return (
        f'{{"before":{_image_wire(ch.key, ch.before, mode)},'
        f'"after":{_image_wire(ch.key, ch.after, mode)},'
        f'"op":"{ch.op}","ts_ms":{ch.ts_ms},'
        f'"source":{{"lsn":{ch.lsn},"table":"transactions","db":"shop"}}}}'
    )


def canonical_line(key: str, img: Image) -> str:
    """The row as ``sink.read()`` should hold it, '|'-joined in column
    order (key, transaction_id, user_id, timestamp, amount, ...)."""
    return "|".join(
        (
            key,
            key,
            img.user_id,
            ts_str(img.ts_s),
            decimal_str(img.cents),
            img.currency,
            img.city,
            img.country,
            img.merchant,
            img.payment,
            img.ip,
            img.voucher,
            img.affiliate,
        )
    )


def digest_lines(lines) -> tuple[int, int, int]:
    """Order-insensitive digest: (rows, sum crc32(line), sum crc32(line+'#'))."""
    n = s1 = s2 = 0
    for line in lines:
        b = line.encode("utf-8")
        n += 1
        s1 += zlib.crc32(b)
        s2 += zlib.crc32(b + b"#")
    return n, s1, s2


def fold(changes, state: dict[str, tuple[int, int, Image | None]] | None = None):
    """Closed-form latest-wins: key -> (lsn, ts_ms, image or None if deleted).
    Duplicates and arrival order do not matter; (lsn, ts_ms) decides."""
    state = {} if state is None else state
    for ch in changes:
        cur = state.get(ch.key)
        if cur is None or (ch.lsn, ch.ts_ms) > (cur[0], cur[1]):
            state[ch.key] = (ch.lsn, ch.ts_ms, None if ch.op == "d" else ch.after)
    return state


def live_rows(state) -> dict[str, Image]:
    return {k: img for k, (_l, _t, img) in state.items() if img is not None}


def state_digest(state) -> tuple[int, int, int]:
    return digest_lines(canonical_line(k, img) for k, img in live_rows(state).items())


class WireGen:
    """Seeded source of keys, row images and change events."""

    def __init__(self, seed: int, key_prefix: str = "tx"):
        self.rng = random.Random(seed)
        self.key_prefix = key_prefix
        self._next_key = 0
        self.lsn = 0

    def new_key(self) -> str:
        k = f"{self.key_prefix}-{self._next_key:08d}-{self.rng.getrandbits(32):08x}"
        self._next_key += 1
        return k

    def image(self) -> Image:
        # one 96-bit draw sliced into fields: image generation dominates
        # the input build time, and the benchmark pays it on every run
        b = self.rng.getrandbits(96)
        cents = 1 + (b & 0xFFFFFF) % 9_999_999
        if (b >> 24) & 0x3F == 0:
            cents = -cents  # refunds exercise the two's-complement sign path
        v = (b >> 60) % 30_000
        return Image(
            user_id=f"user_{(b >> 30) % 50_000:05d}",
            ts_s=(b >> 46) % (30 * 86_400),
            cents=cents,
            currency=_CURRENCIES[v % 6],
            city=_CITIES[(b >> 66) % 8],
            country=_COUNTRIES[(b >> 69) % 8],
            merchant=_MERCHANTS[(b >> 72) % 200],
            payment=_PAYMENTS[(b >> 80) % 5],
            ip=f"10.{(b >> 83) & 255}.{(b >> 91) & 31}.{1 + v % 254}",
            voucher="" if v % 3 else f"V{v % 10_000:04d}",
            affiliate=f"aff_{(b >> 88) % 1000:03d}",
        )

    def change(self, key: str, op: str, before: Image | None) -> Change:
        """Next WAL change for ``key`` (LSNs are strictly increasing)."""
        self.lsn += 1
        after = None if op == "d" else self.image()
        return Change(key, op, self.lsn, EPOCH_S * 1000 + self.lsn, before, after)


def disorder(changes: list[Change], rng: random.Random, dup_frac: float, swap_frac: float, reach: int):
    """Delivery order from WAL order: redeliver ``dup_frac`` of the changes
    at a later position and move ``swap_frac`` of them up to ``reach``
    positions later (within-key and cross-file reordering)."""
    out = list(changes)
    n = len(out)
    for _ in range(int(n * swap_frac)):
        i = rng.randrange(n)
        j = min(n - 1, i + rng.randint(1, reach))
        out[i], out[j] = out[j], out[i]
    for _ in range(int(n * dup_frac)):
        i = rng.randrange(len(out))
        out.insert(min(len(out), i + rng.randint(1, reach)), out[i])
    return out


def chunks(seq, size: int):
    it = iter(seq)
    while batch := list(itertools.islice(it, size)):
        yield batch


def backfill_changes(seed: int, n_keys: int, delete_frac: float = 0.01) -> list[Change]:
    """Replay-from-earliest history: per key one ``c`` then 1-4 ``u``, about
    ``delete_frac`` of the keys end in ``d``; keys interleave uniformly in
    WAL order.  Returned in WAL (LSN) order."""
    g = WireGen(seed, "bf")
    keys = [g.new_key() for _ in range(n_keys)]
    counts = {k: 1 + g.rng.randint(1, 4) for k in keys}
    deleted = set(g.rng.sample(keys, int(n_keys * delete_frac)))
    for k in deleted:
        counts[k] += 1
    slots = [k for k in keys for _ in range(counts[k])]
    g.rng.shuffle(slots)
    seen: dict[str, int] = {}
    cur: dict[str, Image | None] = {}
    out = []
    for k in slots:
        j = seen.get(k, 0)
        seen[k] = j + 1
        op = "c" if j == 0 else ("d" if k in deleted and j == counts[k] - 1 else "u")
        ch = g.change(k, op, cur.get(k))
        cur[k] = ch.after
        out.append(ch)
    return out


class ZipfKeys:
    """Zipf(s) rank sampler over a fixed key list (rank order shuffled so
    the hot keys spread over the sink's buckets)."""

    def __init__(self, keys: list[str], s: float, rng: random.Random):
        self.keys = list(keys)
        rng.shuffle(self.keys)
        acc = 0.0
        self.cum = []
        for r in range(1, len(self.keys) + 1):
            acc += 1.0 / r**s
            self.cum.append(acc)
        self.rng = rng

    def sample(self) -> str:
        i = bisect.bisect_left(self.cum, self.rng.random() * self.cum[-1])
        return self.keys[min(i, len(self.keys) - 1)]


class UpdateStream:
    """Update-heavy change stream against a preloaded key space: Zipf-skewed
    updates, new inserts, deletes (a deleted key that is picked again is
    re-inserted), redelivered duplicates, and changes held back so that a
    lower-LSN update for a key arrives in a later file than a higher one."""

    def __init__(self, seed: int, n_keys: int, zipf_s: float = 1.1):
        self.g = WireGen(seed, "st")
        self.preload = [self.g.change(self.g.new_key(), "c", None) for _ in range(n_keys)]
        self.cur: dict[str, Image | None] = {c.key: c.after for c in self.preload}
        self.zipf = ZipfKeys([c.key for c in self.preload], zipf_s, self.g.rng)
        self.sent: list[Change] = []
        self.held: list[tuple[int, Change]] = []
        self.file_no = 0

    def next_change(self, insert_frac: float, delete_frac: float) -> Change:
        g = self.g
        x = g.rng.random()
        if x < insert_frac:
            key = g.new_key()
            ch = g.change(key, "c", None)
        else:
            key = self.zipf.sample()
            before = self.cur.get(key)
            if before is None:
                ch = g.change(key, "c", None)
            else:
                ch = g.change(key, "d" if x < insert_frac + delete_frac else "u", before)
        self.cur[key] = ch.after
        return ch

    def next_file(
        self,
        n: int,
        insert_frac: float = 0.05,
        delete_frac: float = 0.02,
        dup_frac: float = 0.03,
        hold_frac: float = 0.03,
        hold_files: int = 3,
    ) -> list[Change]:
        """The changes of the next published file, in delivery order."""
        rng = self.g.rng
        self.file_no += 1
        out = [c for due, c in self.held if due <= self.file_no]
        self.held = [(d, c) for d, c in self.held if d > self.file_no]
        while len(out) < n:
            if self.sent and rng.random() < dup_frac:
                out.append(self.sent[rng.randrange(max(0, len(self.sent) - 500), len(self.sent))])
                continue
            ch = self.next_change(insert_frac, delete_frac)
            if rng.random() < hold_frac:
                self.held.append((self.file_no + rng.randint(1, hold_files), ch))
            else:
                out.append(ch)
        self.sent.extend(out)
        return out

    def flush_held(self) -> list[Change]:
        """Every held-back change not yet delivered (the final file)."""
        out = [c for _d, c in self.held]
        self.held = []
        self.sent.extend(out)
        return out
