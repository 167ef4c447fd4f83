"""Seeded input generators. Each takes the workload seed and writes only the
files the program reads; the expectations the checks compare against come
from the same draws, never from the program."""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_T0 = 1412121600  # 2014-10-01 00:00:00 UTC, the reference fixture's week


def _bytes_of(paths: list[str]) -> int:
    return sum(os.path.getsize(p) for p in paths)


def hourly_events(root: str, seed: int, files: int, rows: int, hot_share: float,
                  tail_days: int) -> dict:
    """Parquet events whose ``ts`` puts ``hot_share`` of the rows in one hot
    hour and spreads the rest uniformly over ``tail_days`` days of hours."""
    rng = np.random.default_rng(seed)
    hot_hour = _T0 + 3600 * int(rng.integers(0, tail_days * 24))
    hot = rng.random(rows) < hot_share
    ts = np.where(hot, hot_hour + rng.integers(0, 3600, rows),
                  _T0 + rng.integers(0, tail_days * 86400, rows))
    table = pa.table({
        "event_id": pa.array(np.arange(rows, dtype=np.int64)),
        "ts": pa.array(ts * 1_000_000, pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, 5000, rows)),
        "kind": pa.array(rng.choice(["view", "click", "cart", "buy"], rows)),
        "value": pa.array(np.round(rng.random(rows) * 100, 3)),
    })
    os.makedirs(root)
    paths = []
    step = -(-rows // files)
    for i in range(files):
        p = os.path.join(root, f"events_{i:03d}.parquet")
        pq.write_table(table.slice(i * step, step), p)
        paths.append(p)
    return {"paths": paths, "rows": rows, "hot_rows": int(hot.sum()),
            "bytes": _bytes_of(paths)}


#: the read after each merge commit aggregates the live rows with ``v >= HI``
HI = 500


@dataclass
class KeyedState:
    """The generator's key -> (v, seq) model of the live merge state, updated
    with every increment it writes."""

    seed: int
    keys: int
    trickle_keys: int
    bulk_share: float
    cycle: int
    delete_share: float
    new_key_share: float
    live: dict = field(default_factory=dict)

    def __post_init__(self):
        self.rng = np.random.default_rng(self.seed)

    def is_bulk(self, seq: int) -> bool:
        return seq % self.cycle == 0

    def _write(self, path: str, k, v, seq: int, deleted) -> dict:
        os.makedirs(path)
        p = os.path.join(path, "increment.parquet")
        pq.write_table(pa.table({
            "k": pa.array(k, pa.int64()),
            "v": pa.array(v, pa.int64()),
            "seq": pa.array(np.full(len(k), seq), pa.int64()),
            "deleted": pa.array(deleted, pa.bool_()),
        }), p)
        return {"paths": [p], "rows": len(k), "bytes": os.path.getsize(p)}

    def seed_batch(self, path: str) -> dict:
        k = np.arange(self.keys)
        v = self.rng.integers(0, 1000, self.keys)
        self.live = {key: (val, 0) for key, val in zip(k.tolist(), v.tolist())}
        self.hi_count = int((v >= HI).sum())
        self.hi_sum = int(v[v >= HI].sum())
        return self._write(path, k, v, 0, np.zeros(self.keys, bool))

    def _retire(self, key: int) -> tuple | None:
        prev = self.live.pop(key, None)
        if prev is not None and prev[0] >= HI:
            self.hi_count -= 1
            self.hi_sum -= prev[0]
        return prev

    def increment(self, path: str, seq: int) -> dict:
        """Increment ``seq`` (>= 1): a trickle of ``trickle_keys`` keys, or
        every ``cycle``-th one a bulk batch of ``bulk_share`` of the keys. A
        ``new_key_share`` of keys lie above the seeded range (inserts) and a
        ``delete_share`` of rows are tombstones. The result carries the
        expected change feed of the commit and the expected live aggregate
        ``(count, sum)`` of ``v >= HI`` after it."""
        n = int(self.keys * self.bulk_share) if self.is_bulk(seq) else self.trickle_keys
        space = int(self.keys * (1 + self.new_key_share))
        k = self.rng.choice(space, n, replace=False)
        v = self.rng.integers(0, 1000, n)
        deleted = self.rng.random(n) < self.delete_share
        changes = []
        for key, val, dead in zip(k.tolist(), v.tolist(), deleted.tolist()):
            prev = self._retire(key)
            if dead:
                if prev is not None:
                    changes.append((key, *prev, "delete"))
                continue
            self.live[key] = (val, seq)
            if val >= HI:
                self.hi_count += 1
                self.hi_sum += val
            if prev is None:
                changes.append((key, val, seq, "insert"))
            else:
                changes.append((key, *prev, "update_preimage"))
                changes.append((key, val, seq, "update_postimage"))
        out = self._write(path, k, v, seq, deleted)
        out.update(changes=sorted(changes), agg=(self.hi_count, self.hi_sum))
        return out
