"""Seeded benchmark inputs.

Every input is a pure function of (workload, size, seed). Tables are
written once under the benchmark's work directory, keyed by all three,
and reused by later runs with the same key; the time spent making them
is never part of a metric. The arrays the correctness oracle needs are
regenerated in memory (events) or read back from the written table
(images), so a cache hit and a fresh build feed the oracle identically.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np

DAY_MS = 86_400_000
BASE_TS = 1704067200000  # 2024-01-01 UTC, the engine fixtures' epoch

# bump when the generators change, so stale cached tables are not reused
GENERATOR_VERSION = 1


@dataclass
class Events:
    """An events table: one row per event, daily `ds` partitions, `ts` in
    epoch milliseconds. Arrays are sorted by ts."""

    path: str
    event_id: np.ndarray
    user_id: np.ndarray
    value: np.ndarray
    ts: np.ndarray
    days: int

    def ds(self, day: int) -> str:
        return str(np.datetime64(BASE_TS + day * DAY_MS, "ms").astype("datetime64[D]"))


def _fresh_dir(path: str) -> str:
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    return tmp


def events(work: str, workload: str, n: int, keys: int, days: int, seed: int) -> Events:
    """`n` events over `keys` uniform integer user ids and `days` days.

    Timestamps are distinct, so LAST has one answer and a query never
    ties with another row of its key."""
    rng = np.random.default_rng([GENERATOR_VERSION, seed, n, keys, days])
    ts = BASE_TS + np.sort(rng.choice(days * DAY_MS, size=n, replace=False))
    user_id = rng.integers(0, keys, size=n)
    value = rng.integers(0, 10_000, size=n)
    ev = Events(
        os.path.join(work, "inputs", f"{workload}-n{n}-k{keys}-d{days}-s{seed}-v{GENERATOR_VERSION}"),
        np.arange(n, dtype=np.int64), user_id, value, ts, days,
    )
    if not os.path.isdir(ev.path):
        import pyarrow as pa
        import pyarrow.parquet as pq

        tmp = _fresh_dir(ev.path)
        day = (ts - BASE_TS) // DAY_MS
        for d in range(days):
            sel = day == d
            part = os.path.join(tmp, f"ds={ev.ds(d)}")
            os.makedirs(part)
            pq.write_table(
                pa.table({
                    "event_id": ev.event_id[sel],
                    "user_id": user_id[sel],
                    "value": value[sel],
                    "ts": ts[sel],
                }),
                os.path.join(part, "part-0.parquet"),
            )
        os.replace(tmp, ev.path)
    return ev


@dataclass
class Images:
    """The engine's image+caption fixture plus the columns the oracle needs."""

    path: str
    n: int
    phash: np.ndarray
    ts: np.ndarray
    caption_len: np.ndarray


def images(work: str, n: int, seed: int) -> Images:
    import pyarrow.parquet as pq

    from chronon_spark.fixtures import ensure_image_fixture

    path = ensure_image_fixture(n=n, seed=seed, out_dir=os.path.join(work, "inputs"))
    t = pq.read_table(path, columns=["phash", "ts", "caption"])
    captions = t.column("caption").to_pylist()
    return Images(
        path, n,
        t.column("phash").to_numpy(),
        t.column("ts").to_numpy(),
        # Spark's length() counts characters; captions are ASCII
        np.array([-1 if c is None else len(c) for c in captions], dtype=np.int64),
    )
