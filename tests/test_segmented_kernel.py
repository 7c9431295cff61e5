"""The segmented as-of kernel against the brute-force oracle, and the two
join plans against each other.

The kernel serves every key of a bucket in one pass over (key code, ts)
sorted arrays, so the differential test checks it key by key over whole
buckets: each query row's features must equal `naive_aggregate` over the
events of its own key alone. Hypothesis varies the bucket shape (1 to
1,000 keys, one or two key columns, null keys, empty sides), the
operations (plain, bucketed, array and map inputs), windows whose tails
land on hop boundaries, and duplicate timestamps.
"""

from __future__ import annotations

import math
from dataclasses import replace

import numpy as np
import pyarrow as pa
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql.types import LongType, StringType, StructField

from chronon_spark.api import AggregationPart, Operation, TimeUnit, Window
from chronon_spark.operators.sawtooth import naive_aggregate
from chronon_spark.operators.temporal_join import _as_of_kernel

BASE = 1704067200000  # 2024-01-01
DAY = 86_400_000
FIVE_MIN = 300_000

WINDOWS = [None, Window(1, TimeUnit.DAYS), Window(2, TimeUnit.DAYS),
           Window(3, TimeUnit.HOURS)]
VALUE_OPS = [
    Operation.COUNT, Operation.SUM, Operation.AVERAGE, Operation.VARIANCE,
    Operation.SKEW, Operation.KURTOSIS, Operation.MIN, Operation.MAX,
    Operation.FIRST, Operation.LAST, Operation.UNIQUE_COUNT,
    Operation.APPROX_UNIQUE_COUNT, Operation.APPROX_PERCENTILE,
    Operation.FIRST_K, Operation.LAST_K, Operation.TOP_K, Operation.BOTTOM_K,
    Operation.UNIQUE_TOP_K,
]
CAT_OPS = [Operation.HISTOGRAM, Operation.UNIQUE_COUNT, Operation.FIRST,
           Operation.LAST, Operation.LAST_K]
BUCKET_OPS = [Operation.COUNT, Operation.SUM, Operation.MAX, Operation.LAST,
              Operation.LAST_K, Operation.UNIQUE_COUNT]
LIST_OPS = [Operation.COUNT, Operation.SUM, Operation.MIN, Operation.LAST_K]
MAP_OPS = [Operation.COUNT, Operation.SUM, Operation.MAX, Operation.LAST]

RIGHT_TYPES = {
    "k1": "bigint", "k2": "string", "ts": "bigint", "v": "double",
    "cat": "string", "xs": "array<double>", "m": "map<string,double>",
}
ARROW_TYPES = {
    "k1": pa.int64(), "k2": pa.string(), "ts": pa.int64(), "v": pa.float64(),
    "cat": pa.string(), "xs": pa.list_(pa.float64()),
    "m": pa.map_(pa.string(), pa.float64()),
}


def _null(x) -> bool:
    return x is None or (isinstance(x, float) and math.isnan(x))


def _same(got, want) -> bool:
    if isinstance(want, dict) or (isinstance(got, list) and got and isinstance(got[0], tuple)):
        got = dict(got or [])
        return set(got) == set(want) and all(_same(got[k], want[k]) for k in want)
    if isinstance(want, list):
        return len(got or []) == len(want) and all(_same(g, w) for g, w in zip(got, want))
    if _null(want) or _null(got):
        return _null(want) and _null(got)
    if isinstance(want, str) or isinstance(got, str):
        return got == want
    return abs(float(got) - float(want)) <= 1e-6 * max(1.0, abs(float(want)))


@st.composite
def buckets(draw):
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    n_keys = draw(st.integers(1, 1000))
    n_events = draw(st.integers(0, 1200))
    # the oracle rescans a key's events per query: bound queries x events
    # per key, not the bucket, so wide buckets stay wide
    per_key = max(n_events // n_keys, 1)
    n_queries = draw(st.integers(0, max(min(300, 6000 // per_key), 1)))
    composite = draw(st.booleans())
    null_key = draw(st.sampled_from([0.0, 0.05]))
    grain = draw(st.sampled_from([1, FIVE_MIN, 3_600_000]))
    span = draw(st.integers(1, 6)) * DAY

    def keys(n):
        k1 = rng.integers(0, n_keys, n).astype(object)
        k1[rng.random(n) < null_key] = None
        if composite:
            k2 = rng.choice(np.array(["a", "b", None], dtype=object), n)
        else:
            k2 = np.full(n, "a", dtype=object)
        return k1, k2

    def times(n):
        # multiples of the grain, so window tails sit ON hop boundaries,
        # from a small range, so timestamps repeat
        t = BASE + (rng.integers(0, span // grain + 1, n) * grain)
        return t + rng.choice([0, 0, 0, 1, -1], n) * (grain > 1)

    ek1, ek2 = keys(n_events)
    v = np.round(rng.uniform(-50, 50, n_events), 2)
    v[rng.random(n_events) < 0.1] = np.nan
    xs = [None if rng.random() < 0.1 else
          [None if rng.random() < 0.1 else float(x)
           for x in np.round(rng.uniform(0, 9, rng.integers(0, 4)), 1)]
          for _ in range(n_events)]
    m = [None if rng.random() < 0.1 else
         {str(k): float(rng.integers(0, 20)) for k in rng.choice(4, rng.integers(0, 3))}
         for _ in range(n_events)]
    right = {
        "k1": list(ek1), "k2": list(ek2), "ts": times(n_events).tolist(),
        "v": [None if x != x else float(x) for x in v],
        "cat": [None if rng.random() < 0.1 else f"c{i}" for i in rng.integers(0, 5, n_events)],
        "xs": xs, "m": m,
    }
    qk1, qk2 = keys(n_queries)
    left = {"k1": list(qk1), "k2": list(qk2), "ts": times(n_queries).tolist(),
            "qid": [f"q{i}" for i in range(n_queries)]}

    def part(col, ops, bucket=None):
        op = draw(st.sampled_from(ops))
        k = {"k": draw(st.integers(1, 4))} if op.name.endswith("_K") else {}
        if op == Operation.APPROX_PERCENTILE:
            k = {"percentiles": [0.25, 0.5, 1.0]}
        return AggregationPart(col, op, k, draw(st.sampled_from(WINDOWS)), bucket)

    parts = [part("v", VALUE_OPS) for _ in range(draw(st.integers(1, 6)))]
    parts += [part("cat", CAT_OPS) for _ in range(draw(st.integers(0, 2)))]
    parts += [part("v", BUCKET_OPS, "cat") for _ in range(draw(st.integers(0, 2)))]
    parts += [part("xs", LIST_OPS) for _ in range(draw(st.integers(0, 2)))]
    parts += [part("m", MAP_OPS) for _ in range(draw(st.integers(0, 2)))]
    return left, right, list({p.output_name: p for p in parts}.values())


def _obj(values) -> np.ndarray:
    return np.fromiter(values, dtype=object, count=len(values))


def _expected(right, ts_sel, part):
    """naive_aggregate over one key's events, in the kernel's stable
    (ts) order; map inputs aggregate per map key, which is the bucketed
    aggregation of the exploded (event, map key, value) rows."""
    ets = np.array([right["ts"][i] for i in ts_sel], dtype=np.int64)
    col = part.input_column
    if col == "m":
        rows = [(right["ts"][i], k, v) for i in ts_sel for k, v in (right["m"][i] or {}).items()]
        ets = np.array([r[0] for r in rows], dtype=np.int64)
        vals = {"m": _obj([r[2] for r in rows]), "__mk": _obj([r[1] for r in rows])}
        return lambda q: naive_aggregate(ets, vals, q, [replace(part, bucket="__mk")])
    vals = {c: _obj([right[c][i] for i in ts_sel]) for c in ("v", "cat", "xs")}
    vals["v"] = np.array([np.nan if x is None else x for x in vals["v"]], dtype=np.float64)
    return lambda q: naive_aggregate(ets, vals, q, [part], array_inputs={"xs"})


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow, HealthCheck.data_too_large])
@given(case=buckets())
def test_segmented_kernel_matches_naive_per_key(spark, case):
    left_d, right_d, parts = case
    left_fields = [StructField("k1", LongType()), StructField("k2", StringType()),
                   StructField("ts", LongType()), StructField("qid", StringType())]
    kernel, _ = _as_of_kernel(
        left_fields, RIGHT_TYPES, ["k1", "k2"], ["k1", "k2"], parts, "f_", "ts")
    left = pa.table({c: pa.array(left_d[c], ARROW_TYPES.get(c, pa.string()))
                     for c in ("k1", "k2", "ts", "qid")})
    right = pa.table({c: pa.array(right_d[c], ARROW_TYPES[c]) for c in RIGHT_TYPES})
    out = kernel(left, right)
    names = [f"f_{p.output_name}" for p in parts]
    assert out.column_names == ["k1", "k2", "ts", "qid"] + names
    assert out.num_rows == left.num_rows
    assert out.column("qid").to_pylist() == left_d["qid"]

    by_key: dict = {}
    for i, key in enumerate(zip(right_d["k1"], right_d["k2"])):
        by_key.setdefault(key, []).append(i)
    queries_by_key: dict = {}
    for j, key in enumerate(zip(left_d["k1"], left_d["k2"])):
        queries_by_key.setdefault(key, []).append(j)
    got = {n: out.column(n).to_pylist() for n in names}
    for key, qs in queries_by_key.items():
        ev = by_key.get(key, [])
        ev = [ev[i] for i in np.argsort([right_d["ts"][i] for i in ev], kind="stable")]
        q_ts = np.array([left_d["ts"][j] for j in qs], dtype=np.int64)
        for part, name in zip(parts, names):
            want = _expected(right_d, ev, part)(q_ts)
            want = next(iter(want.values()))
            for j, w in zip(qs, want):
                assert _same(got[name][j], w), (key, left_d["ts"][j], name, got[name][j], w)


def _events_table(tmp_path, spark):
    """A ds-partitioned events table with null-key rows and duplicate
    timestamps."""
    rng = np.random.default_rng(71)
    n = 3000
    ts = BASE + np.sort(rng.integers(0, 10 * DAY, n))
    ts[1::7] = ts[0::7][: len(ts[1::7])]  # repeats
    uid = rng.integers(0, 40, n).astype(object)
    uid[rng.random(n) < 0.05] = None
    rows = [(int(i), uid[i], int(rng.integers(0, 100)), int(ts[i])) for i in range(n)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, value long, ts long")
    path = str(tmp_path / "events")
    df.selectExpr("*", "date_format(timestamp_millis(ts), 'yyyy-MM-dd') AS ds") \
        .write.partitionBy("ds").parquet(path)
    return path


def test_one_scan_plan_matches_cogroup_plan(spark, tmp_path):
    """A join whose left is its GroupBy's own event source takes the
    one-scan plan; the same join forced onto the cogroup plan (a Query
    that differs only by a trivially true `where`) gives identical
    columns and rows — for the whole history and for a backfill range,
    null-key left rows included, with empty features."""
    from chronon_spark.api import (
        Aggregation, EventSource, GroupBy, Join, JoinPart, Operation, Query)
    from chronon_spark.operators.temporal_join import compute_temporal_join
    from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange

    path = _events_table(tmp_path, spark)
    right_q = Query(selects={"user_id": "user_id", "value": "value"}, time_column="ts")
    left_q = Query(selects={"event_id": "event_id", "user_id": "user_id"}, time_column="ts")
    gb = GroupBy(
        sources=[EventSource(path, right_q)],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.COUNT, windows=[Window(1), None]),
            Aggregation("value", Operation.SUM, windows=[Window(3)]),
            Aggregation("value", Operation.LAST_K, arg_map={"k": 2}, windows=[Window(3)]),
        ],
        name="f",
    )
    one_scan = Join(left=EventSource(path, left_q), join_parts=[JoinPart(gb)], name="a")
    cogroup = Join(left=EventSource(path, replace(left_q, wheres=["true"])),
                   join_parts=[JoinPart(gb)], name="a")
    for rng in (None, PartitionRange("2024-01-04", "2024-01-07", DEFAULT_SPEC)):
        a = compute_temporal_join(spark, one_scan, rng)
        b = compute_temporal_join(spark, cogroup, rng)
        plan_a = a._jdf.queryExecution().optimizedPlan().toString()
        plan_b = b._jdf.queryExecution().optimizedPlan().toString()
        assert "FlatMapGroupsInArrow" in plan_a and "CoGroups" not in plan_a
        assert "FlatMapCoGroupsInArrow" in plan_b
        assert a.columns == b.columns
        rows_a = sorted((tuple(r) for r in a.collect()), key=repr)
        rows_b = sorted((tuple(r) for r in b.collect()), key=repr)
        assert rows_a == rows_b
        nulls = [r for r in a.collect() if r["user_id"] is None]
        assert nulls and all(r["f_value_count"] == 0 and r["f_value_sum_3d"] is None
                             for r in nulls)
        if rng is not None:
            assert {r["ds"] for r in a.collect()} == {
                "2024-01-04", "2024-01-05", "2024-01-06", "2024-01-07"}


def test_one_scan_needs_the_same_source(spark, tmp_path):
    """Selects that give a shared name two meanings, a renamed join key
    or a salting conf keep the cogroup plan."""
    from chronon_spark.api import (
        Aggregation, EventSource, GroupBy, Join, JoinPart, Operation, Query)
    from chronon_spark.operators.temporal_join import _one_scan_source

    path = str(tmp_path / "t")
    gb = GroupBy(
        sources=[EventSource(path, Query(selects={"user_id": "user_id", "value": "value"},
                                         time_column="ts"))],
        key_columns=["user_id"],
        aggregations=[Aggregation("value", Operation.COUNT, windows=[None])],
        name="f",
    )

    def join(selects, key_mapping=None):
        return Join(left=EventSource(path, Query(selects=selects, time_column="ts")),
                    join_parts=[JoinPart(gb, key_mapping=key_mapping)], name="j")

    assert _one_scan_source(spark, join({"user_id": "user_id", "e": "event_id"})) is not None
    assert _one_scan_source(spark, join({"user_id": "user_id", "value": "2"})) is None
    assert _one_scan_source(spark, join({"uid": "user_id"}, {"uid": "user_id"})) is None
    spark.conf.set("spark.chronon.join.salt", "4")
    try:
        assert _one_scan_source(spark, join({"user_id": "user_id"})) is None
    finally:
        spark.conf.unset("spark.chronon.join.salt")
