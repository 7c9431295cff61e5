"""Composite (multi-column) join keys and hot-key skew behavior."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from chronon_spark.api import AggregationPart, Operation, Window
from chronon_spark.operators.temporal_join import temporal_features

BASE = 1704067200000
DAY = 86_400_000


def test_composite_key_temporal_join(spark):
    """Two-column keys exercise the joint-code segmentation: (tenant, user)
    pairs must never leak events across either key component."""
    rng = np.random.default_rng(37)
    ev = [
        (int(rng.integers(0, 3)), int(rng.integers(0, 4)),
         int(BASE + rng.integers(0, 10 * DAY)), float(round(rng.uniform(0, 10), 2)))
        for _ in range(800)
    ]
    right = spark.createDataFrame(ev, "tenant int, user int, ts long, value double")
    q = [(int(rng.integers(0, 3)), int(rng.integers(0, 4)),
          int(BASE + rng.integers(0, 10 * DAY))) for _ in range(200)]
    left = spark.createDataFrame(q, "tenant int, user int, ts long")
    parts = [
        AggregationPart("value", Operation.SUM, window=Window(7)),
        AggregationPart("value", Operation.COUNT, window=None),
    ]
    out = temporal_features(left, right, ["tenant", "user"], ["tenant", "user"], parts)
    got = {
        (r["tenant"], r["user"], r["ts"]): (r["value_sum_7d"], r["value_count"])
        for r in out.collect()
    }
    # brute-force oracle in python
    from chronon_spark.api import sawtooth_hop_millis

    hop = sawtooth_hop_millis(Window(7))
    for (t, u, T) in q:
        lo = ((T - Window(7).millis) // hop) * hop
        sel = [v for (et, eu, ts, v) in ev if et == t and eu == u and lo <= ts <= T]
        life = [v for (et, eu, ts, v) in ev if et == t and eu == u and ts <= T]
        s, c = got[(t, u, T)]
        if sel:
            assert s == pytest.approx(sum(sel)), (t, u, T)
        else:
            assert s is None
        assert c == len(life)


def test_hot_key_skew_completes_and_is_correct(spark):
    """90% of events on ONE key (the phash-dup scenario): the bucketed
    cogroup must stay correct; wall-clock degradation is bounded by the
    single bucket holding the hot key."""
    rng = np.random.default_rng(39)
    n = 20_000
    keys = np.where(rng.random(n) < 0.9, 7, rng.integers(0, 50, n))
    ts = np.sort(rng.integers(0, 10 * DAY, n)) + BASE
    ev = [(int(k), int(t), 1.0) for k, t in zip(keys, ts)]
    right = spark.createDataFrame(ev, "user_id int, ts long, value double")
    left = spark.createDataFrame(
        [(7, int(BASE + 10 * DAY)), (3, int(BASE + 10 * DAY))], "user_id int, ts long"
    )
    parts = [AggregationPart("value", Operation.COUNT, window=None)]
    rows = {r["user_id"]: r["value_count"]
            for r in temporal_features(left, right, ["user_id"], ["user_id"], parts).collect()}
    expect_hot = sum(1 for k, t, _ in ev if k == 7)
    expect_cold = sum(1 for k, t, _ in ev if k == 3)
    assert rows[7] == expect_hot
    assert rows[3] == expect_cold


def test_salted_join_matches_unsalted(spark):
    """spark.chronon.join.salt splits hot keys across kernel groups
    without changing ANY result value."""
    rng = np.random.default_rng(43)
    n = 5000
    keys = np.where(rng.random(n) < 0.8, 7, rng.integers(0, 20, n))
    ts = np.sort(rng.integers(0, 10 * DAY, n)) + BASE
    ev = [(int(k), int(t), float(round(rng.uniform(0, 10), 2)))
          for k, t in zip(keys, ts)]
    right = spark.createDataFrame(ev, "user_id int, ts long, value double")
    q = [(int(rng.integers(0, 20)), int(BASE + rng.integers(0, 10 * DAY)))
         for _ in range(300)] + [(7, int(BASE + rng.integers(0, 10 * DAY)))
                                 for _ in range(100)]
    left = spark.createDataFrame(q, "user_id int, ts long")
    parts = [
        AggregationPart("value", Operation.SUM, window=Window(7)),
        AggregationPart("value", Operation.COUNT, window=None),
        AggregationPart("value", Operation.LAST_K, arg_map={"k": 3}, window=Window(7)),
    ]

    def run():
        out = temporal_features(left, right, ["user_id"], ["user_id"], parts)
        return {
            (r["user_id"], r["ts"]): (r["value_sum_7d"], r["value_count"],
                                      tuple(r["value_last3_7d"]))
            for r in out.collect()
        }

    base = run()
    spark.conf.set("spark.chronon.join.salt", "4")
    try:
        salted = run()
    finally:
        spark.conf.set("spark.chronon.join.salt", "1")
    assert set(base) == set(salted)
    for k in base:
        bs, bc, bl = base[k]
        ss, sc, sl = salted[k]
        assert bc == sc, k
        assert bl == sl, k
        if bs is None:
            assert ss is None
        else:
            assert ss == pytest.approx(bs), k


def test_targeted_salted_join_matches_unsalted(spark):
    """spark.chronon.join.salt.keys restricts the split/replication to
    the listed hot keys — the scalable mode (a global salt multiplies
    the WHOLE right shuffle by S). Results must match unsalted exactly,
    including keys NOT in the list and hot-key rows themselves."""
    rng = np.random.default_rng(47)
    n = 6000
    keys = np.where(rng.random(n) < 0.7, 7, rng.integers(0, 20, n))
    ts = np.sort(rng.integers(0, 10 * DAY, n)) + BASE
    ev = [(int(k), int(t), float(round(rng.uniform(0, 10), 2)))
          for k, t in zip(keys, ts)]
    right = spark.createDataFrame(ev, "user_id int, ts long, value double")
    q = [(int(rng.integers(0, 20)), int(BASE + rng.integers(0, 10 * DAY)))
         for _ in range(300)] + [(7, int(BASE + rng.integers(0, 10 * DAY)))
                                 for _ in range(200)]
    left = spark.createDataFrame(q, "user_id int, ts long")
    parts = [
        AggregationPart("value", Operation.SUM, window=Window(7)),
        AggregationPart("value", Operation.COUNT, window=None),
        AggregationPart("value", Operation.LAST_K, arg_map={"k": 3},
                        window=Window(7)),
    ]

    def run():
        out = temporal_features(left, right, ["user_id"], ["user_id"], parts)
        return {
            (r["user_id"], r["ts"]): (r["value_sum_7d"], r["value_count"],
                                      tuple(r["value_last3_7d"]))
            for r in out.collect()
        }

    base = run()
    spark.conf.set("spark.chronon.join.salt", "4")
    spark.conf.set("spark.chronon.join.salt.keys", "7")
    try:
        salted = run()
    finally:
        spark.conf.unset("spark.chronon.join.salt")
        spark.conf.unset("spark.chronon.join.salt.keys")
    assert set(base) == set(salted)
    for k in base:
        bs, bc, bl = base[k]
        ss, sc, sl = salted[k]
        assert (bc, bl) == (sc, sl), k
        if bs is None:
            assert ss is None
        else:
            assert ss == pytest.approx(bs), k


def test_time_sharded_salting_matches_unsalted(spark):
    """spark.chronon.join.salt.time_days shards an EVENT-heavy hot key
    by query time chunk; each event replicates only into the chunks
    whose queries can see it (bounded by the max window). Exact for
    windowed-only parts; unbounded parts are rejected loudly."""
    rng = np.random.default_rng(53)
    n = 8000
    keys = np.where(rng.random(n) < 0.6, 7, rng.integers(0, 20, n))
    ts = np.sort(rng.integers(0, 20 * DAY, n)) + BASE
    ev = [(int(k), int(t), float(round(rng.uniform(0, 10), 2)))
          for k, t in zip(keys, ts)]
    right = spark.createDataFrame(ev, "user_id int, ts long, value double")
    q = [(int(rng.integers(0, 20)), int(BASE + rng.integers(0, 20 * DAY)))
         for _ in range(400)] + [(7, int(BASE + rng.integers(0, 20 * DAY)))
                                 for _ in range(300)]
    left = spark.createDataFrame(q, "user_id int, ts long")
    parts = [
        AggregationPart("value", Operation.SUM, window=Window(7)),
        AggregationPart("value", Operation.COUNT, window=Window(1)),
        AggregationPart("value", Operation.LAST_K, arg_map={"k": 3},
                        window=Window(7)),
    ]

    def run():
        out = temporal_features(left, right, ["user_id"], ["user_id"], parts)
        return {
            (r["user_id"], r["ts"]): (r["value_sum_7d"],
                                      r["value_count_1d"],
                                      tuple(r["value_last3_7d"]))
            for r in out.collect()
        }

    base = run()
    spark.conf.set("spark.chronon.join.salt.time_days", "3")
    spark.conf.set("spark.chronon.join.salt.keys", "7")
    try:
        sharded = run()
        # unbounded part -> loud failure, not silent wrong results
        bad = parts + [AggregationPart("value", Operation.COUNT,
                                       window=None)]
        with pytest.raises(ValueError):
            temporal_features(left, right, ["user_id"], ["user_id"], bad)
    finally:
        spark.conf.unset("spark.chronon.join.salt.time_days")
        spark.conf.unset("spark.chronon.join.salt.keys")
    assert set(base) == set(sharded)
    for k in base:
        bs, bc, bl = base[k]
        ss, sc, sl = sharded[k]
        assert (bc, bl) == (sc, sl), k
        if bs is None:
            assert ss is None
        else:
            assert ss == pytest.approx(bs), k


def _salting_fixture(spark):
    rng = np.random.default_rng(59)
    n = 4000
    keys = np.where(rng.random(n) < 0.6, 7, rng.integers(0, 20, n))
    ts = np.sort(rng.integers(0, 20 * DAY, n)) + BASE
    ev = [(int(k), int(t), int(rng.integers(0, 1000)))
          for k, t in zip(keys, ts)]
    right = spark.createDataFrame(ev, "user_id int, ts long, value long")
    q = [(int(rng.integers(0, 20)), int(BASE + rng.integers(0, 20 * DAY)), f"q{i}")
         for i in range(400)]
    left = spark.createDataFrame(q, "user_id int, ts long, tag string")
    parts = [
        AggregationPart("value", Operation.SUM, window=Window(7)),
        AggregationPart("value", Operation.COUNT, window=Window(1)),
        AggregationPart("value", Operation.LAST_K, arg_map={"k": 3},
                        window=Window(7)),
    ]
    return left, right, parts


_SALT_CONFS = ("spark.chronon.join.salt", "spark.chronon.join.salt.keys",
               "spark.chronon.join.salt.time_days")


def test_salting_modes_same_columns_and_values(spark):
    """Unsalted, hash-salted (global and targeted) and time-sharded plans
    return the same columns in the same order and the same rows: the
    internal `__salt` key never reaches the output (it used to leak when
    only salt.time_days was set)."""
    left, right, parts = _salting_fixture(spark)
    modes = {
        "unsalted": {},
        "hash": {"spark.chronon.join.salt": "4"},
        "hash_targeted": {"spark.chronon.join.salt": "4",
                          "spark.chronon.join.salt.keys": "7"},
        "time_sharded": {"spark.chronon.join.salt.time_days": "3",
                         "spark.chronon.join.salt.keys": "7"},
    }
    results = {}
    for mode, confs in modes.items():
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            out = temporal_features(left, right, ["user_id"], ["user_id"], parts)
            results[mode] = (out.columns, sorted(tuple(r) for r in out.collect()))
        finally:
            for k in _SALT_CONFS:
                spark.conf.unset(k)
    cols, rows = results["unsalted"]
    assert cols == left.columns + [
        "value_sum_7d", "value_count_1d", "value_last3_7d"]
    assert len(rows) == 400
    for mode, (c, r) in results.items():
        assert c == cols, mode
        assert r == rows, mode


def test_hash_salt_with_time_shards_is_rejected(spark):
    """salt > 1 and salt.time_days > 0 are two different hot-key plans;
    setting both is an error, not a silent precedence."""
    left, right, parts = _salting_fixture(spark)
    spark.conf.set("spark.chronon.join.salt", "4")
    spark.conf.set("spark.chronon.join.salt.time_days", "3")
    spark.conf.set("spark.chronon.join.salt.keys", "7")
    try:
        with pytest.raises(ValueError, match="exclusive"):
            temporal_features(left, right, ["user_id"], ["user_id"], parts)
    finally:
        for k in _SALT_CONFS:
            spark.conf.unset(k)
