"""Microbench of the sawtooth kernel, `sawtooth_aggregate`, on one core.

Shapes:
  * asof   — the asof_join workload's shape: about 67 events per key,
             every event also a query, COUNT 1d/7d/lifetime, SUM 7d,
             LAST 7d; the kernel is called once per key as the join does.
  * last_k — 20k events x 20k queries, LAST_K k=50 over 7d (the
             reference's SawtoothUdfPerformanceTest shape).
  * avg_3w — 10k events x 10k queries, AVERAGE over 1h/1d/30d (the
             reference's SawtoothAggregatorTest shape).
Each shape is checked against `naive_aggregate` on a slice small enough
for the brute-force reference.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

import inputs


def _asof_parts():
    from chronon_spark.api import AggregationPart, Operation, Window

    return [
        AggregationPart("value", Operation.COUNT, window=Window(1)),
        AggregationPart("value", Operation.COUNT, window=Window(7)),
        AggregationPart("value", Operation.COUNT, window=None),
        AggregationPart("value", Operation.SUM, window=Window(7)),
        AggregationPart("value", Operation.LAST, window=Window(7)),
    ]


def _series(rng, n: int, days: int):
    ts = inputs.BASE_TS + np.sort(rng.choice(days * inputs.DAY_MS, size=n, replace=False))
    return ts, {"value": rng.integers(0, 10_000, size=n).astype(float)}


def _same(got, want) -> bool:
    for g, w in zip(got, want):
        if isinstance(w, list):
            if list(g) != w:
                return False
        elif (w is None) != (g is None or g != g):
            return False
        elif w is not None and not np.isclose(float(g), float(w), rtol=1e-12, atol=0):
            return False
    return len(got) == len(want)


def _check(ev_ts, ev_vals, q_ts, parts, what: str) -> list[str]:
    from chronon_spark.operators.sawtooth import naive_aggregate, sawtooth_aggregate

    got = sawtooth_aggregate(ev_ts, ev_vals, q_ts, parts)
    want = naive_aggregate(ev_ts, ev_vals, q_ts, parts)
    return [f"sawtooth {what} {p.output_name} differs from naive_aggregate"
            for p in parts if not _same(list(got[p.output_name]), want[p.output_name])]


def run(seed: int, reps: int = 3, asof_keys: int = 300) -> tuple[dict, list[str]]:
    from chronon_spark.api import AggregationPart, Operation, TimeUnit, Window
    from chronon_spark.operators.sawtooth import sawtooth_aggregate

    rng = np.random.default_rng([seed, 17])
    errors: list[str] = []

    parts = _asof_parts()
    keys = [_series(rng, int(rng.poisson(67)) + 1, 30) for _ in range(asof_keys)]
    rows = sum(len(ts) for ts, _ in keys)
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for ts, vals in keys:
            sawtooth_aggregate(ts, vals, ts, parts)
        walls.append(time.perf_counter() - t0)
    asof = statistics.median(walls)
    for ts, vals in keys[:3]:
        errors += _check(ts, vals, ts, parts, "asof")

    def shape(n, parts, what):
        ev_ts, ev_vals = _series(rng, n, 30)
        q_ts = np.sort(rng.integers(ev_ts[0], ev_ts[-1] + 1, size=n))
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            sawtooth_aggregate(ev_ts, ev_vals, q_ts, parts)
            walls.append(time.perf_counter() - t0)
        errors.extend(_check(ev_ts[:300], {"value": ev_vals["value"][:300]},
                             q_ts[q_ts <= ev_ts[299]][:300], parts, what))
        return n / statistics.median(walls)

    last_k = shape(20_000, [AggregationPart("value", Operation.LAST_K, {"k": 50}, Window(7))],
                   "last_k")
    avg_3w = shape(10_000, [
        AggregationPart("value", Operation.AVERAGE, window=Window(1, TimeUnit.HOURS)),
        AggregationPart("value", Operation.AVERAGE, window=Window(1)),
        AggregationPart("value", Operation.AVERAGE, window=Window(30)),
    ], "avg_3w")
    return {
        "sawtooth.us_per_key": asof / asof_keys * 1e6,
        "sawtooth.rows_per_s": rows / asof,
        "sawtooth.last_k50.rows_per_s": last_k,
        "sawtooth.average_3w.rows_per_s": avg_3w,
    }, errors
