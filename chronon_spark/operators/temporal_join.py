"""Point-in-time (temporal) join — the core deliverable.

For each left row (entity keys, ts) produce every GroupBy feature exactly
as-of that row's timestamp: window [floor((ts-w)/hop)*hop, ts], head
inclusive, zero temporal leakage.

reference algorithm: the "skew-free" UnionJoin — normalize left/right to a
common schema, union, ONE groupBy(keys) with collect_list, array_sort by
ts, per-key sawtooth UDF, explode back
(spark/.../join/UnionJoin.scala:28-198, SawtoothUdf.scala:82-139;
default spark.chronon.join.backfill.mode.skewFree=true,
TableUtils.scala:71-74; README.md:82 claims 9x vs the legacy cogroup
path).

One kernel serves every plan: rows are grouped on a hash BUCKET of the
key and reach Python as `pyarrow.Table`s; the kernel sorts a bucket's
events once by (key code, ts) and runs the segmented sawtooth, where one
`searchsorted` over a composite (key, ts) array bounds every query's
window and the prefix-sum, RMQ and wavelet structures are built once per
bucket — no per-key Python loop, no pandas. Two physical plans feed it:

* cogroup — ``left.groupBy(bucket).cogroup(right.groupBy(bucket))
  .applyInArrow``: each side is hash-partitioned ONCE and co-located,
  exactly union+groupBy at the shuffle level, with no join explosion.
* one scan — when a one-part join's left is its GroupBy's only event
  source (same table and Query but for the selects), every left row is
  a right row: the lookback-widened range is scanned once, rows in the
  left's own partition range are flagged as queries, and one
  ``groupBy(bucket).applyInArrow`` serves both roles — half the scan,
  shuffle and Arrow serde, and no small-mode probe job. The temporal
  GroupBy (every event its own query) runs on it too.

Skew controls: AQE on; the bucket hash is itself a generalized salt (hot
keys share buckets with other keys); for a single MONSTER key,
``spark.chronon.join.salt = S`` splits its left rows across S kernel
groups by replicating the right side S times (exact results, verified by
test_salted_join_matches_unsalted).
"""

from __future__ import annotations

from dataclasses import replace
from functools import reduce
from typing import Optional

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructField, StructType, _parse_datatype_string

from chronon_spark.api import (
    PARTITION_COLUMN,
    TIME_COLUMN,
    AggregationPart,
    EventSource,
    GroupBy,
    Join,
    JoinPart,
    Operation,
)
from chronon_spark.operators.groupby import (
    _apply_derivations,
    _union_sources,
    window_days,
)
from chronon_spark.operators.sawtooth import sawtooth_aggregate
from chronon_spark.partitions import DEFAULT_SPEC, PartitionRange, PartitionSpec


def _temporal_scan_range(group_by, rng, spec) -> Optional[PartitionRange]:
    """Right-side scan widening for TEMPORAL accuracy.

    Unlike snapshot windows (which end at end-of-day and need N-1 days of
    lookback), a query at the very start of day X with an N-day window
    reaches back to day X-N, and the sawtooth tail rounds DOWN by up to
    one hop (<= 1 day) further — so widen by N+1 days. Regression: a
    step-chunked backfill must equal the single-pass compute.
    """
    if rng is None or rng.start is None:
        return rng
    lookbacks = [window_days(p) for p in group_by.aggregation_parts()]
    if any(d is None for d in lookbacks):
        return PartitionRange(None, rng.end, spec)  # lifetime: full history
    max_days = max(lookbacks, default=1)
    return PartitionRange(spec.shift(rng.start, -(max_days + 1)), rng.end, spec)


_ARRAY_OPS = (
    Operation.FIRST_K,
    Operation.LAST_K,
    Operation.TOP_K,
    Operation.BOTTOM_K,
    Operation.UNIQUE_TOP_K,
)
_MAP_OPS = (
    Operation.HISTOGRAM,
    Operation.APPROX_FREQUENT_K,
    Operation.APPROX_HEAVY_HITTERS_K,
)
_LONG_OPS = (Operation.COUNT, Operation.UNIQUE_COUNT, Operation.APPROX_UNIQUE_COUNT)
_DOUBLE_OPS = (
    Operation.AVERAGE,
    Operation.VARIANCE,
    Operation.SKEW,
    Operation.KURTOSIS,
)
# query time of a left row whose ts is NULL: before every event
_NO_TS = -(1 << 62)


def output_sql_type(part: AggregationPart, input_type: str) -> str:
    """Spark SQL type of one feature column given its input column type.

    array<T> inputs auto-explode (elements aggregate individually), so the
    value type derives from the ELEMENT type; bucketed parts wrap the value
    in map<string, _> (reference: BucketedColumnAggregator)."""
    map_input = False
    if input_type.startswith("array<") and input_type.endswith(">"):
        input_type = input_type[len("array<"):-1]
    elif input_type.startswith("map<") and input_type.endswith(">"):
        # per-map-key aggregation of the VALUE type -> map output
        map_input = True
        input_type = input_type[len("map<"):-1].split(",", 1)[1].strip()
    op = part.operation
    if op in _LONG_OPS:
        base = "bigint"
    elif op in _DOUBLE_OPS:
        base = "double"
    elif op == Operation.SUM:
        base = "double" if input_type in ("double", "float") else "bigint"
    elif op in (Operation.MIN, Operation.MAX):
        base = "double" if input_type in ("double", "float") else input_type
    elif op in (Operation.FIRST, Operation.LAST):
        base = input_type
    elif op in _ARRAY_OPS:
        base = f"array<{input_type}>"
    elif op in _MAP_OPS:
        base = "map<string,bigint>"
    elif op == Operation.APPROX_PERCENTILE:
        base = "array<double>"
    else:
        raise NotImplementedError(str(op))
    if part.bucket is not None or map_input:
        return f"map<string,{base}>"
    return base


def _input_columns(parts: list[AggregationPart]) -> list[str]:
    return sorted({p.input_column for p in parts} | {p.bucket for p in parts if p.bucket})


def _is_scalar(t: pa.DataType) -> bool:
    return pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_boolean(t)


def _values(col: pa.ChunkedArray) -> np.ndarray:
    """Arrow column -> kernel array: float64 with NaN nulls for numbers
    and booleans, objects with None for the rest (maps as dicts)."""
    if _is_scalar(col.type):
        return col.cast(pa.float64()).to_numpy()
    vals = col.to_pylist()
    if pa.types.is_map(col.type):
        vals = [None if v is None else dict(v) for v in vals]
    return np.fromiter(vals, dtype=object, count=len(vals))


def _to_arrow(res: np.ndarray, typ: pa.DataType) -> pa.Array:
    """Kernel output (NaN/None = null) -> Arrow array of the feature's type."""
    if not _is_scalar(typ):
        return pa.array(
            [None if isinstance(v, float) and v != v else v for v in res.tolist()],
            type=typ,
        )
    if res.dtype.kind in "iu":
        return pa.array(res).cast(typ)
    if res.dtype == object:
        res = np.array([np.nan if v is None else float(v) for v in res], dtype=np.float64)
    mask = np.isnan(res)
    if not pa.types.is_floating(typ):
        # round, don't truncate: prefix-sum floats of exact integers can
        # sit epsilon below the true integer
        res = np.round(res)
    return pa.array(np.where(mask, 0.0, res), mask=mask).cast(typ)


def _key_codes(left: list, right: list) -> tuple[np.ndarray, np.ndarray]:
    """Joint int64 codes of the (composite) key values of both sides;
    NULL matches NULL. Key types are aligned Spark-side beforehand, so
    equal codes mean equal keys under the bucket hash."""
    nl = len(left[0])
    code = None
    for lcol, rcol in zip(left, right):
        both = pa.concat_arrays([lcol.combine_chunks(), rcol.combine_chunks()])
        enc = both.dictionary_encode(null_encoding="encode")
        idx = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        code = idx if code is None else np.unique(
            code * len(enc.dictionary) + idx, return_inverse=True)[1].astype(np.int64)
    return code[:nl], code[nl:]


def _as_of_kernel(
    left_fields: list[StructField],
    right_types: dict[str, str],
    left_keys: list[str],
    right_keys: list[str],
    parts: list[AggregationPart],
    prefix: str,
    left_time: str,
    right_time: str = TIME_COLUMN,
):
    """The as-of kernel shared by every plan, and its output schema.

    Returns (kernel, schema): `kernel(left, right)` maps a bucket's
    query rows and event rows (`pyarrow.Table`s) to the query rows'
    `left_fields` columns plus one `{prefix}{output_name}` column per
    part; `schema` is the Spark StructType of that output."""
    input_cols = _input_columns(parts)
    array_inputs = {c for c in input_cols if right_types[c].startswith("array<")}
    map_inputs = {c for c in input_cols if right_types[c].startswith("map<")}
    names = [f"{prefix}{p.output_name}" for p in parts]
    features_ddl = ", ".join(
        f"`{n}` {output_sql_type(p, right_types[p.input_column])}"
        for n, p in zip(names, parts)
    )
    schema = StructType(list(left_fields) + _parse_datatype_string(features_ddl).fields)
    arrow_schema = pa.schema(
        [pa.field(f.name, to_arrow_type(f.dataType)) for f in schema.fields])
    left_cols = [f.name for f in left_fields]
    ftypes = [arrow_schema.field(n).type for n in names]

    def kernel(left: pa.Table, right: pa.Table) -> pa.Table:
        if left.num_rows == 0:
            return arrow_schema.empty_table()
        lcode, rcode = _key_codes(
            [left[k] for k in left_keys], [right[k] for k in right_keys])
        rts = right[right_time].to_numpy()
        order = np.lexsort((rts, rcode))
        lts = pc.fill_null(left[left_time].cast(pa.int64()), _NO_TS).to_numpy()
        res = sawtooth_aggregate(
            rts[order],
            {c: _values(right[c])[order] for c in input_cols},
            lts,
            parts,
            array_inputs=array_inputs,
            map_inputs=map_inputs,
            event_keys=rcode[order],
            query_keys=lcode,
        )
        return pa.Table.from_arrays(
            [left[c] for c in left_cols]
            + [_to_arrow(res[p.output_name], t) for p, t in zip(parts, ftypes)],
            schema=arrow_schema,
        )

    return kernel, schema


def _buckets(spark: SparkSession, buckets: Optional[int]) -> int:
    """`buckets`, else spark.chronon.join.buckets, else 8x shuffle partitions."""
    if buckets is not None:
        return buckets
    default = 8 * int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return int(spark.conf.get("spark.chronon.join.buckets", str(default)))


def _salting(spark: SparkSession) -> tuple[int, int, list[str]]:
    """(salt, salt.time_days, salt.keys) from the session conf; the two
    modes are exclusive."""
    salt = int(spark.conf.get("spark.chronon.join.salt", "1"))
    time_days = int(spark.conf.get("spark.chronon.join.salt.time_days", "0"))
    salt_keys = [s for s in spark.conf.get("spark.chronon.join.salt.keys", "").split(",") if s]
    if salt > 1 and time_days > 0:
        raise ValueError(
            "spark.chronon.join.salt > 1 and spark.chronon.join.salt.time_days"
            " > 0 are exclusive salting modes; set one of them")
    return salt, time_days, salt_keys


def temporal_features(
    left_df: DataFrame,
    right_df: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
    parts: list[AggregationPart],
    prefix: str = "",
    time_col: str = TIME_COLUMN,
    buckets: Optional[int] = None,
) -> DataFrame:
    """Enrich every left row with point-in-time features from right_df.

    left_df: any columns + `time_col` (epoch millis long) + left_keys.
    right_df: right_keys + ts + the parts' input columns.
    Returns left_df columns + one `{prefix}{output_name}` column per part.
    All left columns pass through, so duplicate left rows are preserved
    (reference duplicates the left in tests: EventsEventsTemporalTest.scala:75-76).

    Physical plan: both sides are cogrouped on `pmod(xxhash64(keys),
    buckets)` — NOT on the raw key — and the kernel processes every key in
    the bucket from one Arrow table per side. PySpark's cogroup serde costs
    milliseconds PER GROUP, so per-key grouping caps throughput at a few
    hundred groups/sec/core; bucketing amortizes that over thousands of
    keys, and the segmented kernel serves all of them in one pass.
    `buckets` defaults to 8x shuffle partitions (conf
    spark.chronon.join.buckets overrides) — at cluster scale size it so a
    bucket's rows fit executor memory.
    """
    spark = left_df.sparkSession
    buckets = _buckets(spark, buckets)
    left_fields = list(left_df.schema.fields)
    salt, time_days, salt_keys = _salting(spark)
    # hot-key salting (spark.chronon.join.salt = S > 1): left rows spread
    # over S salts by a ts-derived hash; the right side is REPLICATED S
    # times and (key, salt) becomes the cogroup key — a monster key's left
    # rows split across S kernel groups at the cost of S x right events
    # for that key. With spark.chronon.join.salt.keys set (comma-separated
    # values of the FIRST join key), only those hot keys are split and
    # only THEIR right rows replicate — the scalable mode: a global salt
    # multiplies the whole right shuffle by S (measured 5x SLOWER on a
    # 32M-row join with one 3% monster key), targeted salting pays the
    # replication only where the skew is. Exactness is oracle-pinned
    # either way (temporal_join_salted gate query,
    # test_salted_join_matches_unsalted). The `__salt` key column is
    # internal: the output keeps exactly left_df's columns.
    #
    # EVENT-heavy hot keys (spark.chronon.join.salt.time_days = D, with
    # salt.keys): query-side salting cannot help a key whose EVENT
    # history dominates (every salt slice re-processes all its events —
    # measured flat on the 32M-row torture). When every part is
    # WINDOWED, time-sharding solves it exactly: the hot key's queries
    # shard by ts into D-day chunks and each event replicates into at
    # most ceil(max_window/D)+1 chunks (the only ones whose queries can
    # see it) — per-chunk kernel input is bounded by the chunk's own
    # traffic plus one window of lookback, regardless of total history.
    l_hot = r_hot = F.lit(True)
    if salt_keys:
        l_hot = F.col(left_keys[0]).cast("string").isin(salt_keys)
        r_hot = F.col(right_keys[0]).cast("string").isin(salt_keys)
    if time_days > 0:
        if not salt_keys:
            raise ValueError(
                "spark.chronon.join.salt.time_days requires salt.keys")
        unbounded = [p.output_name for p in parts if p.window is None]
        if unbounded:
            raise ValueError(
                "time-sharded salting needs every part windowed; "
                f"unbounded: {unbounded}")
        span = time_days * 86_400_000
        max_w = max(p.window.millis for p in parts)
        # an event at ts serves query chunks floor(ts/span) ..
        # floor((ts + max_w + hop)/span): the sawtooth tail rounds the
        # window start DOWN by up to one hop (hop <= 1 day for every
        # window size), so the visibility horizon is max_w + hop, not
        # max_w — bound with a full day to stay safe for all hops
        reps = (max_w + 86_400_000) // span + 2
        l_salt = F.floor(F.col(time_col) / F.lit(span))
        chunk0 = F.floor(F.col(TIME_COLUMN) / F.lit(span)).cast("long")
        r_salts = F.array_distinct(
            F.array(*[chunk0 + F.lit(i).cast("long") for i in range(reps)]))
    elif salt > 1:
        l_salt = F.pmod(F.xxhash64(*[F.col(k) for k in left_keys], F.col(time_col)),
                        F.lit(salt))
        r_salts = F.array(*[F.lit(i).cast("long") for i in range(salt)])
    if time_days > 0 or salt > 1:
        left_df = left_df.withColumn(
            "__salt", F.when(l_hot, l_salt).otherwise(F.lit(0)).cast("long"))
        right_df = right_df.withColumn("__salt", F.explode(
            F.when(r_hot, r_salts).otherwise(F.array(F.lit(0).cast("long")))))
        left_keys = list(left_keys) + ["__salt"]
        right_keys = list(right_keys) + ["__salt"]
    right_types = dict(right_df.dtypes)
    # left keys cast to the right's types (as hidden columns when they
    # differ), so both the bucket hash and the kernel's key codes agree:
    # int 5 and string '5' match when the declared key type is string
    left_types = dict(left_df.dtypes)
    aligned = []
    for i, (lk, rk) in enumerate(zip(left_keys, right_keys)):
        if left_types[lk] != right_types[rk]:
            left_df = left_df.withColumn(f"__key{i}", F.col(lk).cast(right_types[rk]))
            lk = f"__key{i}"
        aligned.append(lk)
    kernel, schema = _as_of_kernel(
        left_fields, right_types, aligned, right_keys, parts, prefix, time_col)
    input_cols = _input_columns(parts)
    right_needed = list(dict.fromkeys(right_keys + [TIME_COLUMN] + input_cols))
    # fresh aliases mint new exprIds so a self-cogroup (left derived from the
    # same scan as right) doesn't get its shared attributes deduplicated away
    right_slim = (
        right_df.select(*[F.col(c).alias(c) for c in right_needed])
        .where(F.col(TIME_COLUMN).isNotNull())
    )
    l_bucket = F.pmod(F.xxhash64(*[F.col(k) for k in aligned]), F.lit(buckets))
    r_bucket = F.pmod(F.xxhash64(*[F.col(k) for k in right_keys]), F.lit(buckets))
    grouped = left_df.groupBy(l_bucket.alias("__bucket")).cogroup(
        right_slim.groupBy(r_bucket.alias("__bucket"))
    )
    return grouped.applyInArrow(kernel, schema=schema)


def _one_scan(
    df: DataFrame,
    keys: list[str],
    parts: list[AggregationPart],
    query: Column,
    event: Column,
    out_cols: list[str],
    prefix: str = "",
    time_col: str = TIME_COLUMN,
    buckets: Optional[int] = None,
) -> DataFrame:
    """Features for the rows of `df` flagged by `query`, as-of their own
    timestamps, over the rows flagged by `event` — one scan, one hash
    shuffle and one Arrow kernel call per bucket, where the cogroup plan
    would scan, shuffle and serialize the same table twice. Returns
    `out_cols` + one `{prefix}{output_name}` column per part."""
    buckets = _buckets(df.sparkSession, buckets)
    types = dict(df.dtypes)
    kernel, schema = _as_of_kernel(
        [df.schema[c] for c in out_cols], types, keys, keys, parts, prefix,
        time_col, time_col)
    input_cols = _input_columns(parts)
    needed = list(dict.fromkeys(out_cols + keys + [time_col] + input_cols))
    slim = df.select(
        *needed,
        F.coalesce(query, F.lit(False)).alias("__query"),
        F.coalesce(event, F.lit(False)).alias("__event"),
    ).where(F.col("__query") | F.col("__event"))

    def one_scan(table: pa.Table) -> pa.Table:
        return kernel(table.filter(table["__query"]), table.filter(table["__event"]))

    bucket = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(buckets))
    return slim.groupBy(bucket.alias("__bucket")).applyInArrow(one_scan, schema=schema)


def temporal_self_features(
    df: DataFrame,
    keys: list[str],
    parts: list[AggregationPart],
    time_col: str = TIME_COLUMN,
    buckets: Optional[int] = None,
    query_lo: Optional[int] = None,
    query_hi: Optional[int] = None,
) -> DataFrame:
    """TEMPORAL GroupBy fast path: features for every source row as-of its
    OWN timestamp (reference: GroupBy.temporalEvents with the source as
    its own query set), on the one-scan plan. Returns keys + ts +
    features.

    `query_lo`/`query_hi` (epoch ms) bound WHICH rows emit output (the
    backfill range) while all rows still feed window state — the self
    analog of the join path's lookback-widened right scan.
    """
    ts = F.col(time_col)
    query = ts.isNotNull()
    if query_lo is not None:
        query = query & (ts >= F.lit(int(query_lo)))
    if query_hi is not None:
        query = query & (ts < F.lit(int(query_hi)))
    return _one_scan(
        df, keys, parts, query, ts.isNotNull(), keys + [time_col],
        time_col=time_col, buckets=buckets)


def compute_temporal_join_part(
    spark: SparkSession,
    left_df: DataFrame,
    join_part: JoinPart,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
    skew_keys: Optional[dict] = None,
    probe_df: Optional[DataFrame] = None,
) -> DataFrame:
    """One join part: scan right GroupBy sources (lookback-widened),
    cogroup with the left, run the sawtooth kernel.

    `probe_df` (default: left_df) supplies the left keys for the
    small/mid-size right-scan filters — callers chaining several parts
    pass the RAW left scan so probing doesn't re-execute the upstream
    cogroups."""
    gb = join_part.group_by
    scan_rng = _temporal_scan_range(gb, rng, spec)
    right = _union_sources(spark, gb, scan_rng, spec)
    parts = gb.aggregation_parts()
    key_map = join_part.right_to_left_keys()  # gb key -> left col
    left_keys = [key_map[k] for k in gb.key_columns]
    # skew keys excluded from the left must be excluded from the RIGHT scan
    # too (reference: JoinUtils.skewFilter:330-382 filters both sides) —
    # otherwise the hot keys' events are still scanned, shuffled and sorted
    # in their cogroup bucket for nothing.
    if skew_keys:
        for gb_key, left_col in key_map.items():
            values = skew_keys.get(left_col) or skew_keys.get(gb_key)
            if values:
                right = right.where(
                    ~F.col(gb_key).isin(values) | F.col(gb_key).isNull()
                )
    probe = probe_df if probe_df is not None else left_df
    right = _right_key_filter(spark, probe, right, left_keys, gb.key_columns)
    prefix = join_part.full_prefix() + "_"
    return temporal_features(left_df, right, left_keys, gb.key_columns, parts, prefix)


def _right_key_filter(
    spark: SparkSession,
    left_df: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
) -> DataFrame:
    """Two-tier right-scan reduction by left keys:

    * small mode (|left| <= 5k): literal IN-list pushdown — parquet
      row-group skipping (reference: JoinUtils.runSmallMode).
    * mid-size mode (5k < |left| <= 1M): broadcast LEFT-SEMI join of the
      right on the left's DISTINCT keys. The reference builds a bloom
      filter here (Join.scala:267-285, genBloomFilterIfNeeded); the
      broadcast-hash semi probe is the Spark-native equivalent with zero
      false positives and no separate filter-building pass — the probe
      sits directly above the right scan, so a 50k-row left no longer
      drags a full 100 TB right table through the shuffle.
    """
    filtered = _small_mode_filter(spark, left_df, right, left_keys, right_keys)
    if filtered is not right:
        return filtered
    return _midsize_semi_filter(spark, left_df, right, left_keys, right_keys)


def _midsize_semi_filter(
    spark: SparkSession,
    left_df: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
) -> DataFrame:
    cutoff = int(spark.conf.get("spark.chronon.backfill.bloom.cutoff", "1000000"))
    if cutoff <= 0:
        return right
    # only worth paying the probe job + broadcast when the right scan is
    # big enough that skipping rows saves real IO (the reference gates its
    # bloom the same way, on leftRowCount vs threshold); the size estimate
    # comes free from file statistics — no job
    min_right = int(
        spark.conf.get("spark.chronon.backfill.bloom.min_right_bytes",
                       str(256 * 1024 * 1024))
    )
    try:
        right_bytes = int(
            right._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:  # pragma: no cover - non-file-backed plans
        right_bytes = 1 << 62
    if right_bytes < min_right:
        return right
    probe = left_df.select(*left_keys).limit(cutoff + 1)
    if probe.count() > cutoff:
        return right
    right_types = dict(right.dtypes)
    keys_df = (
        left_df.select(
            *[F.col(lk).cast(right_types[rk]).alias(f"__sj_{rk}")
              for lk, rk in zip(left_keys, right_keys)]
        )
        .distinct()
    )
    cond = None
    for rk in right_keys:
        c = F.col(rk).eqNullSafe(F.col(f"__sj_{rk}"))
        cond = c if cond is None else (cond & c)
    return right.join(F.broadcast(keys_df), cond, "left_semi")


def _small_mode_filter(
    spark: SparkSession,
    left_df: DataFrame,
    right: DataFrame,
    left_keys: list[str],
    right_keys: list[str],
) -> DataFrame:
    """Small-mode semi-join reduction (reference: JoinUtils.runSmallMode /
    injectKeyFilter, cutoff conf TableUtils.scala:54-57): when the left has
    few rows, push `key IN (...)` predicates into the right scan — Catalyst
    turns them into parquet row-group filters, so a tiny backfill touches a
    tiny slice of a 100TB right table. A per-key IN-list is a superset
    filter for composite keys (safe: extra right rows only cost compute)."""
    cutoff = int(spark.conf.get("spark.chronon.backfill.small_mode.cutoff", "5000"))
    if cutoff <= 0:
        return right
    sample = left_df.select(*left_keys).limit(cutoff + 1).collect()
    if len(sample) > cutoff:
        return right
    for lk, rk in zip(left_keys, right_keys):
        vals = {r[lk] for r in sample if r[lk] is not None}
        if vals:
            right = right.where(F.col(rk).isin(list(vals)))
    return right


def compute_temporal_join(
    spark: SparkSession,
    join: Join,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
) -> DataFrame:
    """Full join: left source scanned once, then enriched per part.

    Single part whose GroupBy reads the left's own event source: the
    one-scan plan (`_one_scan_join`). Other single parts: one
    co-partitioned cogroup over the left (no extra join).
    Multiple parts: each part cogroups a SLIM probe — (row_id, ts, the
    union of join-key columns) — and the feature columns merge back onto
    the left by row id at the end (the monolith analog of the modular
    MergeJob, reference MergeJob.scala:81-140). Chaining parts directly
    would push part 1..N-1's feature columns through part N's Arrow
    kernel serde: payload grows linearly with part count for nothing.
    Row ids are minted with monotonically_increasing_id over the scanned
    left — deterministic because the left plan below it is a parquet scan
    plus narrow ops (no round-robin repartition); the modular path
    materializes ids to disk for full re-execution safety."""
    from chronon_spark.sources.scan import scan_source

    merged = _one_scan_source(spark, join, spec)
    if merged is not None:
        out = _one_scan_join(spark, join, merged, rng, spec)
    elif len(join.join_parts) <= 1:
        left_df = _apply_skew_filter(scan_source(spark, join.left, rng, spec), join)
        out = left_df
        for jp in join.join_parts:
            out = compute_temporal_join_part(
                spark, out, jp, rng, spec, skew_keys=join.skew_keys,
                probe_df=left_df,
            )
    else:
        left_df = _apply_skew_filter(scan_source(spark, join.left, rng, spec), join)
        row_id = "__row_id"
        base = left_df.withColumn(row_id, F.monotonically_increasing_id())
        need = {TIME_COLUMN}
        for jp in join.join_parts:
            need.update(jp.right_to_left_keys().values())
        slim = base.select(
            *[c for c in base.columns if c in need], row_id
        )
        out = base
        for jp in join.join_parts:
            pf = compute_temporal_join_part(
                spark, slim, jp, rng, spec, skew_keys=join.skew_keys,
                probe_df=left_df,
            )
            fcols = [c for c in pf.columns if c not in slim.columns]
            out = out.join(pf.select(row_id, *fcols), row_id, "left")
        out = out.drop(row_id)
    if join.derivations:
        from chronon_spark.api import apply_derivations

        # the output carries every left column, so it stands in for the left
        ensure = list(join.row_ids or []) or _join_ensure_keys(join, out)
        out = apply_derivations(out, join.derivations, ensure)
    return out


def _one_scan_source(
    spark: SparkSession, join: Join, spec: PartitionSpec = DEFAULT_SPEC,
) -> Optional[EventSource]:
    """The single source a join can be computed from in one scan, or None.

    That is the case when the join has one part, its GroupBy's only source
    is an EventSource over the left's table with the same Query but for
    the selects (names both select must map to the same expression), the
    join keys are the GroupBy's key names, and no salting is configured:
    every left row is then also one of the right's rows. The returned
    source selects the union of both sides' columns."""
    if len(join.join_parts) != 1:
        return None
    jp = join.join_parts[0]
    gb = jp.group_by
    left = join.left
    if len(gb.sources) != 1 or type(left) is not EventSource:
        return None
    right = gb.sources[0]
    if (type(right) is not EventSource or right.table != left.table
            or right.is_cumulative != left.is_cumulative
            or replace(right.query, selects=None) != replace(left.query, selects=None)):
        return None
    ls, rs = left.query.selects, right.query.selects
    if (ls is None) != (rs is None):
        return None
    if ls is not None and (
            any(ls[c] != rs[c] for c in ls.keys() & rs.keys())
            or (rs.keys() - ls.keys()) & {TIME_COLUMN, _partition_column(left, spec)}):
        return None
    if any(k != v for k, v in jp.right_to_left_keys().items()):
        return None
    salt, time_days, _ = _salting(spark)
    if salt > 1 or time_days > 0:
        return None
    selects = None if ls is None else {**ls, **rs}
    return replace(left, query=replace(left.query, selects=selects))


def _partition_column(source: EventSource, spec: PartitionSpec) -> str:
    return source.query.partition_column or spec.column


def _one_scan_join(
    spark: SparkSession,
    join: Join,
    source: EventSource,
    rng: Optional[PartitionRange],
    spec: PartitionSpec,
) -> DataFrame:
    """A one-part join whose left is its GroupBy's own event source
    (`_one_scan_source`), on the one-scan plan: the lookback-widened range
    is scanned once; rows inside the left scan's own partition range (and
    its skew filter) are the queries, rows the GroupBy would aggregate
    (some key non-null, skew-filtered) are the events. Null-key left rows
    stay, with empty features. Output columns equal the cogroup plan's."""
    from chronon_spark.sources.scan import scan_source

    jp = join.join_parts[0]
    gb = jp.group_by
    keys = gb.key_columns
    df = scan_source(spark, source, _temporal_scan_range(gb, rng, spec), spec)
    part_col = _partition_column(source, spec)
    # the left scan's columns, in its order: its own selects plus the time
    # and partition columns every scan adds
    selects = join.left.query.selects
    left_cols = [c for c in df.columns
                 if selects is None or c in selects or c in (TIME_COLUMN, part_col)]
    query = F.lit(True)
    for clause in rng.where_clauses(part_col) if rng is not None else []:
        query = query & F.expr(clause)
    event = F.col(TIME_COLUMN).isNotNull() & reduce(
        Column.__or__, [F.col(k).isNotNull() for k in keys])
    for col, values in (join.skew_keys or {}).items():
        keep = ~F.col(col).isin(values) | F.col(col).isNull()
        if col in left_cols:
            query = query & keep
        if col in keys:
            event = event & keep
    return _one_scan(df, keys, gb.aggregation_parts(), query, event, left_cols,
                     prefix=jp.full_prefix() + "_")


def _join_ensure_keys(join: Join, left_df: DataFrame) -> list[str]:
    keys = []
    for jp in join.join_parts:
        km = jp.right_to_left_keys()
        keys.extend(km.values())
    keys.extend([TIME_COLUMN, PARTITION_COLUMN])
    return [k for k in dict.fromkeys(keys) if k in left_df.columns]


def _apply_skew_filter(left_df: DataFrame, join: Join) -> DataFrame:
    """skewKeys config -> NOT IN filters (reference: JoinUtils.skewFilter:330-382)."""
    if not join.skew_keys:
        return left_df
    for col, values in join.skew_keys.items():
        if col in left_df.columns:
            left_df = left_df.where(~F.col(col).isin(values) | F.col(col).isNull())
    return left_df


def compute_temporal_groupby(
    spark: SparkSession,
    group_by: GroupBy,
    rng: Optional[PartitionRange] = None,
    spec: PartitionSpec = DEFAULT_SPEC,
) -> DataFrame:
    """TEMPORAL-accuracy GroupBy backfill: every source event row becomes a
    query at its own timestamp (features as-of each event, head-inclusive
    so the row's own value is included — reference semantics for
    events-events temporal with the source as its own left).

    Runs on the SELF-cogroup fast path (one scan + one shuffle instead of
    the join path's two of each); the output range filter becomes ts
    bounds inside the kernel, and ds is re-derived from ts on the slim
    output."""
    scan_rng = _temporal_scan_range(group_by, rng, spec)
    df = _union_sources(spark, group_by, scan_rng, spec)
    keys = group_by.key_columns
    parts = group_by.aggregation_parts()
    lo = spec.epoch_millis(rng.start) if rng is not None and rng.start else None
    hi = (
        spec.epoch_millis(spec.after(rng.end))
        if rng is not None and rng.end
        else None
    )
    out = temporal_self_features(df, keys, parts, query_lo=lo, query_hi=hi)
    out = out.withColumn(
        PARTITION_COLUMN,
        F.date_format(F.timestamp_millis(F.col(TIME_COLUMN)), "yyyy-MM-dd"),
    )
    return _apply_derivations(out, group_by)
