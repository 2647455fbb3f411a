"""Seeded input generators and the models that check the library.

Each generator keeps its own model of what the store must hold, built
only from the inputs it emitted — never from library output. The
models use plain Python values; the digests are order-independent
(sums of per-row hashes modulo 2**64) so a store read can be checked
without sorting.
"""

from __future__ import annotations

import hashlib
import json
import random
import zlib
from datetime import date, datetime, timedelta
from typing import Optional

MASK64 = (1 << 64) - 1


def row_hash(values: tuple) -> int:
    return int.from_bytes(
        hashlib.blake2b(repr(values).encode(), digest_size=8).digest(), "little"
    )


def digest(rows) -> int:
    return sum(row_hash(r) for r in rows) & MASK64


# ---------------------------------------------------------------------------
# sync_batches: an Airtable-shaped table synced as full-table batches
# ---------------------------------------------------------------------------

#: raw source schema — every value string-encoded, as the Airtable API
#: returns it
SYNC_SCHEMA = (
    "Name string, Created string, notes string, score string, "
    "active string, start_date string, updated_at string, "
    "attachments array<struct<url:string,filename:string>>, "
    "tags array<string>, region string"
)

#: Airtable field type catalog; ``region`` is left out on purpose so the
#: default-to-string path runs
SYNC_CATALOG = {
    "Name": "singleLineText",
    "Created": "dateTime",
    "notes": "multilineText",
    "score": "number",
    "active": "checkbox",
    "start_date": "date",
    "updated_at": "dateTime",
    "attachments": "multipleAttachments",
    "tags": "multipleSelects",
}

#: payload fields and their converted kinds, in column order
SYNC_FIELDS = (
    ("Name", "string"),
    ("Created", "timestamp"),
    ("notes", "string"),
    ("score", "double"),
    ("active", "boolean"),
    ("start_date", "date"),
    ("updated_at", "timestamp"),
    ("attachments", "array<string>"),
    ("tags", "array<string>"),
    ("region", "string"),
)
SYNC_NAMES = [n for n, _ in SYNC_FIELDS]

_TAGS = ["red", "green", "blue", "urgent", "later", "archive", "vip"]
_BASE_TS = datetime(2024, 1, 1)
_TS_FMT = "%Y-%m-%d %H:%M:%S"


def _encode(typed: tuple) -> tuple:
    """Typed model row -> raw Airtable-style row."""
    name, created, notes, score, active, start, updated, urls, tags, region = typed
    return (
        name,
        None if created is None else created.strftime(_TS_FMT),
        notes,
        None if score is None else repr(score),
        None if active is None else ("true" if active else "false"),
        None if start is None else start.isoformat(),
        None if updated is None else updated.strftime(_TS_FMT),
        None if urls is None
        else [{"url": u, "filename": u.rsplit("/", 1)[-1]} for u in urls],
        None if tags is None else list(tags),
        region,
    )


def raw_bytes(typed: tuple) -> int:
    """Logical size of one row: its raw JSON encoding."""
    return len(json.dumps(_encode(typed), separators=(",", ":")))


class AirtableTable:
    """A keyed table that churns between full-table batches.

    ``live`` maps pk -> typed row (the newest row of the key, which
    keep-latest dedup must select). About 3% of keys also carry an
    older duplicate row, and a few rows with NULL or empty pks ride in
    every batch; both must be dropped by the pipeline."""

    def __init__(self, seed: int, n_rows: int):
        self.rng = random.Random(seed)
        self.n_rows = n_rows
        self.step_no = 0
        self._next = 0
        self.live: dict[str, tuple] = {}
        self.dups: dict[str, tuple] = {}
        for _ in range(n_rows):
            self._insert()
        self.junk = [self._junk_row(i) for i in range(max(2, n_rows // 200))]

    def _pk(self) -> str:
        self._next += 1
        return f"rec{self._next:09d}"

    def _payload(self, name: str, created: Optional[datetime]) -> tuple:
        r = self.rng
        n_att = r.choice([0, 0, 1, 1, 2])
        urls = [f"https://cdn.example/{name}/{i}.png" for i in range(n_att)]
        return (
            name,
            created,
            None if r.random() < 0.05 else f"note {name} s{self.step_no} {r.randrange(10**6)}",
            r.randrange(-4000, 400000) / 4.0,
            r.random() < 0.5,
            date(2023, 1, 1) + timedelta(days=r.randrange(900)),
            _BASE_TS + timedelta(seconds=self.step_no * 3600 + r.randrange(3600)),
            None if r.random() < 0.05 else urls,
            None if r.random() < 0.05 else r.sample(_TAGS, r.randrange(4)),
            f"region-{r.randrange(12)}",
        )

    def _created(self) -> datetime:
        return _BASE_TS + timedelta(seconds=self.rng.randrange(10**7))

    def _insert(self) -> tuple:
        name = self._pk()
        created = self._created()
        row = self._payload(name, created)
        self.live[name] = row
        if self.rng.random() < 0.03:
            older = created - timedelta(days=1 + self.rng.randrange(300))
            self.dups[name] = self._payload(name, older)
        return row

    def _junk_row(self, i: int) -> tuple:
        row = self._payload("", self._created())
        return (None if i % 2 else "",) + row[1:]

    def batch_rows(self) -> list[tuple]:
        """The full raw batch: live rows, older duplicates and null/empty
        pk rows, in a seeded order."""
        rows = [_encode(r) for r in self.live.values()]
        rows += [_encode(r) for r in self.dups.values()]
        rows += [_encode(r) for r in self.junk]
        self.rng.shuffle(rows)
        return rows

    def step(self) -> int:
        """Churn: ~2% of rows changed, ~1% inserted, ~1% deleted.
        Returns the logical bytes of the rows changed, inserted or
        deleted."""
        self.step_no += 1
        keys = list(self.live)
        n = len(keys)
        changed = self.rng.sample(keys, max(1, n // 50))
        gone = self.rng.sample(keys, max(1, n // 100))
        touched = 0
        for k in changed:
            new = self._payload(k, self.live[k][1])
            while new == self.live[k]:
                new = self._payload(k, self.live[k][1])
            self.live[k] = new
            touched += raw_bytes(new)
        for k in gone:
            if k in self.live:
                touched += raw_bytes(self.live.pop(k))
                self.dups.pop(k, None)
        for _ in range(max(1, n // 100)):
            touched += raw_bytes(self._insert())
        return touched


class StrategyModel:
    """What one strategy's store must hold after each sync it ran."""

    def __init__(self, kind: str):
        self.kind = kind  # "upsert_delete" | "soft_delete" | "versioned"
        self.current: dict[str, tuple] = {}
        self.last_seen: dict[str, tuple] = {}
        self.versions: dict[str, int] = {}

    def apply(self, live: dict[str, tuple]) -> None:
        self.current = dict(live)
        for k, row in live.items():
            if self.last_seen.get(k) != row:
                self.versions[k] = self.versions.get(k, 0) + 1
            self.last_seen[k] = row

    def expect(self) -> dict:
        if self.kind == "upsert_delete":
            return {"rows": len(self.current),
                    "live": len(self.current),
                    "live_digest": digest(self.current.values())}
        if self.kind == "soft_delete":
            return {"rows": len(self.last_seen),
                    "live": len(self.current),
                    "live_digest": digest(self.current.values()),
                    "tombstones": len(self.last_seen) - len(self.current)}
        return {"rows": sum(self.versions.values()),
                "live": len(self.last_seen),
                "live_digest": digest(self.last_seen.values()),
                "version_digest": digest(sorted(self.versions.items()))}


def observe_sync_store(kind: str, rows: list) -> dict:
    """The same summary as :meth:`StrategyModel.expect`, from collected
    store rows (payload columns first, then the engine columns)."""
    payload = [tuple(r[n] for n in SYNC_NAMES) for r in rows]
    if kind == "upsert_delete":
        return {"rows": len(rows), "live": len(rows),
                "live_digest": digest(payload)}
    if kind == "soft_delete":
        live = [p for p, r in zip(payload, rows) if not r["is_deleted"]]
        return {"rows": len(rows), "live": len(live),
                "live_digest": digest(live),
                "tombstones": len(rows) - len(live)}
    latest = [p for p, r in zip(payload, rows) if r["latest"]]
    counts: dict[str, int] = {}
    for r in rows:
        counts[r["Name"]] = counts.get(r["Name"], 0) + 1
    return {"rows": len(rows), "live": len(latest),
            "live_digest": digest(latest),
            "version_digest": digest(sorted(counts.items()))}


# ---------------------------------------------------------------------------
# store_dml_mix and cdf_rollup_stream: integer-keyed tables
# ---------------------------------------------------------------------------

KV_SCHEMA = "k long, grp string, val long, note string"
_P = 1_000_000_007

#: Spark SQL twin of :func:`kv_row_hash` — exact integer arithmetic in
#: both engines (every intermediate stays below 2**63)
KV_HASH_SQL = (
    "pmod(pmod(k * 1000003 + val * 7919 + crc32(grp) * 31 + crc32(note), "
    f"{_P}) * pmod(k * 1000003 + val * 7919 + crc32(grp) * 31 "
    f"+ crc32(note), {_P}), {_P})"
)


def kv_row_hash(k: int, grp: str, val: int, note: str) -> int:
    x = (k * 1000003 + val * 7919 + zlib.crc32(grp.encode()) * 31
         + zlib.crc32(note.encode())) % _P
    return (x * x) % _P


def kv_summary(rows) -> tuple[int, int]:
    """(row count, digest) of ``(k, grp, val, note)`` tuples."""
    n = d = 0
    for k, grp, val, note in rows:
        n += 1
        d += kv_row_hash(k, grp, val, note)
    return n, d


class KVTable:
    """A ``k -> (grp, val, note)`` table with skewed key popularity."""

    def __init__(self, seed: int, n_rows: int, n_groups: int):
        self.rng = random.Random(seed)
        self.n_groups = n_groups
        self.rows: dict[int, tuple] = {}
        self.next_key = 0
        for _ in range(n_rows):
            self.rows[self._new_key()] = self.payload()

    def _new_key(self) -> int:
        self.next_key += 1
        return self.next_key

    def payload(self) -> tuple:
        r = self.rng
        return (f"g{r.randrange(self.n_groups):03d}", r.randrange(1, 10**6),
                f"n{r.randrange(10**9)}")

    def hot_key(self) -> int:
        """A live key drawn with Zipf-like skew over key rank: key ranks
        are popular in proportion to 1 / rank."""
        hi = self.next_key
        while True:
            k = int(hi ** self.rng.random())  # log-uniform rank
            if k in self.rows:
                return k

    def sliver(self, frac: float) -> tuple[list[tuple], dict]:
        """A merge source touching ``frac`` of rows: updates, inserts and
        deletes (delete rows carry ``val = -1``). Returns the source
        rows and the change map ``k -> "update"|"insert"|"delete"``."""
        n = max(3, int(len(self.rows) * frac))
        out, changes = [], {}
        while len(changes) < n:
            roll = self.rng.random()
            if roll < 0.6:
                k = self.hot_key()
                if k in changes:
                    continue
                grp, val, note = self.payload()
                if (grp, val, note) == self.rows[k]:
                    continue
                changes[k] = "update"
            elif roll < 0.8:
                k = self._new_key()
                grp, val, note = self.payload()
                changes[k] = "insert"
            else:
                k = self.hot_key()
                if k in changes:
                    continue
                grp, val, note = self.rows[k][0], -1, self.rows[k][2]
                changes[k] = "delete"
            out.append((k, grp, val, note))
        return out, changes

    def apply_sliver(self, src: list[tuple]) -> int:
        """Apply a merge source to the model; returns logical bytes."""
        touched = 0
        for k, grp, val, note in src:
            if val < 0:
                touched += kv_bytes(k, *self.rows.pop(k))
            else:
                self.rows[k] = (grp, val, note)
                touched += kv_bytes(k, grp, val, note)
        return touched

    def as_rows(self) -> list[tuple]:
        return [(k, *v) for k, v in self.rows.items()]


def kv_bytes(k: int, grp: str, val: int, note: str) -> int:
    return len(json.dumps([k, grp, val, note], separators=(",", ":")))
