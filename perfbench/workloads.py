"""The benchmark's workloads: inputs, one timed pass, and its check.

`run_pass` calls only the engine's public functions, from plan-build to
the sink, and is timed as a whole by the caller; `check` runs after the
clock stops. The values a check needs are gathered inside the timed
action by `DataFrame.observe` (row count plus the rows of a fixed key
sample), so a check never re-runs the pipeline. Expected values come
from `naive_aggregate`, the engine's brute-force reference, computed in
`prepare` before any timing starts.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass, field

import numpy as np

import inputs

SAMPLE_KEYS = 16


@dataclass
class PassResult:
    rows: int
    errors: list[str] = field(default_factory=list)
    steps: list[float] = field(default_factory=list)  # backfill step walls


def _events_join(path: str, windows_only: bool, name: str):
    """The `temporal_join_asof` shape: COUNT 1d/7d(/lifetime), SUM 7d and
    LAST 7d of each user's events, as of each event."""
    from chronon_spark.api import (
        Aggregation, EventSource, GroupBy, Join, JoinPart, Operation, Query, Window)

    def source(selects):
        return EventSource(path, Query(selects=selects, time_column="ts"))

    counts = [Window(1), Window(7)] + ([] if windows_only else [None])
    gb = GroupBy(
        sources=[source({"user_id": "user_id", "value": "value"})],
        key_columns=["user_id"],
        aggregations=[
            Aggregation("value", Operation.COUNT, windows=counts),
            Aggregation("value", Operation.SUM, windows=[Window(7)]),
            Aggregation("value", Operation.LAST, windows=[Window(7)]),
        ],
        name="f",
    )
    return Join(
        left=source({"event_id": "event_id", "user_id": "user_id"}),
        join_parts=[JoinPart(gb)],
        name=name,
    )


def _expected(event_ts, event_vals, query_ts, parts, prefix: str) -> dict:
    """(ts) -> {column: value} from the engine's brute-force reference."""
    from chronon_spark.operators.sawtooth import naive_aggregate

    res = naive_aggregate(event_ts, event_vals, query_ts, parts)
    return {
        int(t): {prefix + p.output_name: res[p.output_name][i] for p in parts}
        for i, t in enumerate(query_ts)
    }


def _events_want(ev: inputs.Events, keys, parts, since: int | None = None) -> dict:
    """key -> the reference features of that key's events at or after
    `since`, each event queried at its own timestamp."""
    want = {}
    for k in keys:
        sel = ev.user_id == k
        ts = ev.ts[sel]
        q = ts if since is None else ts[ts >= since]
        want[int(k)] = _expected(ts, {"value": ev.value[sel].astype(float)}, q, parts, "f_")
    return want


def _sample_keys(n_keys: int, seed: int) -> np.ndarray:
    return np.sort(np.random.default_rng(seed).choice(n_keys, SAMPLE_KEYS, replace=False))


def _compare(key, got_rows, want: dict, what: str) -> list[str]:
    """Exact comparison of observed sample rows against the reference."""
    errors = []
    if len(got_rows) != len(want):
        return [f"{what} key {key}: {len(got_rows)} rows, expected {len(want)}"]
    for row in got_rows:
        exp = want.get(int(row["ts"]))
        if exp is None:
            errors.append(f"{what} key {key}: unexpected ts {row['ts']}")
            continue
        for col, v in exp.items():
            g = row[col]
            if (g is None) != (v is None) or (g is not None and float(g) != float(v)):
                errors.append(f"{what} key {key} ts {row['ts']} {col}: got {g}, expected {v}")
    return errors[:5]


def _observe(df, key_col: str, keys, feature_cols: list[str], extra=()):
    """Attach the check's metrics to `df`; they are computed by the same
    action that writes the output."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    sample = F.col(key_col).isin([int(k) for k in keys])
    df = df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.collect_list(F.when(sample, F.struct(key_col, "ts", *feature_cols))).alias("sample"),
        *extra,
    )
    return df, obs


def _group_sample(rows, key_col: str) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(int(r[key_col]), []).append(r)
    return out


class DailyBackfill:
    """`join_backfill(step_days=1)` filling the last days of a windowed
    events-events Join into a fresh `ParquetWarehouse` and its manifest.

    Every traced run makes it once over asof_join's events: it is
    Chronon's daily production shape, where each one-day step pays its
    own plan-build, cache, count, insert and manifest append."""

    name = "daily_backfill"
    fill_days = 5
    table = "asof_daily"

    def __init__(self, work: str, ev: inputs.Events, n_keys: int, seed: int):
        self.work = work
        self.ev = ev
        self.days = ev.days
        self.join = _events_join(self.ev.path, windows_only=True, name="daily")
        self.parts = self.join.join_parts[0].group_by.aggregation_parts()
        self.start = self.ev.ds(self.days - self.fill_days)
        self.end = self.ev.ds(self.days - 1)
        lo = inputs.BASE_TS + (self.days - self.fill_days) * inputs.DAY_MS
        self.expect_rows = int((self.ev.ts >= lo).sum())
        self.sample = _sample_keys(n_keys, seed)
        self.want = _events_want(ev, self.sample, self.parts, since=lo)
        self.n_pass = 0

    def run_pass(self, spark, tracer):
        from chronon_spark.plans.backfill import join_backfill
        from chronon_spark.sources.catalog import ParquetWarehouse

        class Warehouse(ParquetWarehouse):
            def insert_overwrite(self, df, table, cluster_by=None):
                with tracer.span("backfill.write"):
                    super().insert_overwrite(df, table, cluster_by)

        root = os.path.join(self.work, "warehouse", f"pass{self.n_pass}")
        self.n_pass += 1
        shutil.rmtree(root, ignore_errors=True)
        wh = Warehouse(spark, root)
        job = join_backfill(spark, wh, self.join, self.table, step_days=1)
        compute = job.compute

        def planned(rng):
            with tracer.span("temporal_join.plan"):
                return compute(rng)

        job.compute = planned
        with tracer.span("backfill.run"):
            report = job.run(self.start, self.end)
        return wh, report

    def check(self, spark, state) -> PassResult:
        wh, report = state
        res = PassResult(report.rows_written, steps=[s.wall_sec for s in report.steps])
        try:
            res.errors += self._check(spark, wh, report)
        finally:
            shutil.rmtree(wh.root, ignore_errors=True)
        return res

    def _check(self, spark, wh, report) -> list[str]:
        from pyspark.sql import functions as F

        from chronon_spark.plans.backfill import MANIFEST_TABLE

        errors = []
        want_days = [self.ev.ds(d) for d in range(self.days - self.fill_days, self.days)]
        if wh.partitions(self.table) != want_days:
            errors.append(f"partitions {wh.partitions(self.table)} != {want_days}")
        manifest = spark.read.parquet(wh.path(MANIFEST_TABLE)).where(
            (F.col("output_table") == self.table) & (F.col("status") == "ok")).count()
        if manifest != self.fill_days:
            errors.append(f"{manifest} manifest rows, expected {self.fill_days}")
        if report.rows_written != self.expect_rows:
            errors.append(f"rows {report.rows_written} != {self.expect_rows}")
        features = ["f_" + p.output_name for p in self.parts]
        rows = (
            spark.read.parquet(wh.path(self.table))
            .where(F.col("user_id").isin([int(k) for k in self.sample]))
            .select("user_id", "ts", *features)
            .collect()
        )
        by_key = _group_sample(rows, "user_id")
        for k in self.sample:
            errors += _compare(k, by_key.get(int(k), []), self.want[int(k)], "backfill")
        return errors


class AsofJoin:
    """`compute_temporal_join` of an events-events Join over the whole
    history, written to the noop sink."""

    name = "asof_join"
    n_events, n_keys, days = 120_000, 1_800, 30

    def prepare(self, work: str, seed: int) -> None:
        self.work, self.seed = work, seed
        self.ev = inputs.events(work, self.name, self.n_events, self.n_keys, self.days, seed)
        self.join = _events_join(self.ev.path, windows_only=False, name="asof")
        self.parts = self.join.join_parts[0].group_by.aggregation_parts()
        self.features = ["f_" + p.output_name for p in self.parts]
        self.sample = _sample_keys(self.n_keys, seed)
        self.want = _events_want(self.ev, self.sample, self.parts)

    def run_pass(self, spark, tracer):
        from chronon_spark.operators.temporal_join import compute_temporal_join

        with tracer.span("temporal_join.plan"):
            out = compute_temporal_join(spark, self.join)
        out, obs = _observe(out, "user_id", self.sample, self.features)
        with tracer.span("action"):
            out.write.format("noop").mode("overwrite").save()
        return obs

    def check(self, spark, obs) -> PassResult:
        got = obs.get
        res = PassResult(got["rows"])
        if got["rows"] != self.n_events:
            res.errors.append(f"rows {got['rows']} != events {self.n_events}")
        by_key = _group_sample(got["sample"], "user_id")
        for k in self.sample:
            res.errors += _compare(k, by_key.get(int(k), []), self.want[int(k)], "asof")
        return res

    def scan_probe(self, spark):
        from chronon_spark.sources.scan import scan_source

        return scan_source(spark, self.join.left)

    def backfill_probe(self) -> DailyBackfill:
        return DailyBackfill(self.work, self.ev, self.n_keys, self.seed)


class ImageAsof:
    """`extract_pixel_features` fused with phash-keyed as-of caption
    features (`temporal_features`), written to the noop sink."""

    name = "image_asof"
    n_images = 2_000

    def prepare(self, work: str, seed: int) -> None:
        from chronon_spark.api import AggregationPart, Operation, Window

        self.img = inputs.images(work, self.n_images, seed)
        self.parts = [
            AggregationPart("caption_len", Operation.COUNT, window=Window(1)),
            AggregationPart("caption_len", Operation.COUNT, window=None),
            AggregationPart("caption_len", Operation.MAX, window=None),
        ]
        self.features = [p.output_name for p in self.parts]
        # sample the most re-captured hashes first: they have history
        uniq, counts = np.unique(self.img.phash, return_counts=True)
        order = np.lexsort((uniq, -counts))
        self.sample = uniq[order[:SAMPLE_KEYS]]
        self.want = {}
        for h in self.sample:
            sel = self.img.phash == h
            order_ts = np.argsort(self.img.ts[sel], kind="stable")
            ts = self.img.ts[sel][order_ts]
            vals = self.img.caption_len[sel][order_ts].astype(float)
            self.want[int(h)] = _expected(ts, {"caption_len": vals}, ts, self.parts, "")

    def _images(self, spark):
        # as bench.py's image_asof_fused: split the binary rows by bytes,
        # never by a round-robin repartition
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(8 * 1024 * 1024))
        return spark.read.parquet(self.img.path)

    def run_pass(self, spark, tracer):
        from pyspark.sql import functions as F

        from chronon_spark.operators.multimodal import extract_pixel_features
        from chronon_spark.operators.temporal_join import temporal_features

        with tracer.span("temporal_join.plan"):
            images = self._images(spark)
            feats = extract_pixel_features(images, passthrough=("phash", "ts"))
            right = images.select(
                "phash", "ts", F.length("caption").cast("bigint").alias("caption_len"))
            out = temporal_features(feats, right, ["phash"], ["phash"], self.parts)
        bad = ~F.col("decode_ok") | F.col("phash_check").isNull() | (F.col("phash_check") != F.col("phash"))
        out, obs = _observe(
            out, "phash", self.sample, self.features,
            extra=[F.sum(F.when(bad, 1).otherwise(0)).alias("bad")])
        with tracer.span("action"):
            out.write.format("noop").mode("overwrite").save()
        return obs

    def check(self, spark, obs) -> PassResult:
        got = obs.get
        res = PassResult(got["rows"])
        if got["rows"] != self.n_images:
            res.errors.append(f"rows {got['rows']} != images {self.n_images}")
        if got["bad"]:
            res.errors.append(f"{got['bad']} rows with decode_ok false or phash_check != phash")
        by_key = _group_sample(got["sample"], "phash")
        for h in self.sample:
            res.errors += _compare(h, by_key.get(int(h), []), self.want[int(h)], "image")
        return res

    def scan_probe(self, spark):
        from chronon_spark.api import EventSource
        from chronon_spark.sources.scan import scan_source

        self._images(spark)
        return scan_source(spark, EventSource(self.img.path))

    def pixel_probe(self, spark):
        from chronon_spark.operators.multimodal import extract_pixel_features

        return extract_pixel_features(self._images(spark), passthrough=("phash", "ts"))


WORKLOADS = {w.name: w for w in (AsofJoin, ImageAsof)}
