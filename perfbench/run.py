"""Layered benchmark of the chronon_spark point-in-time feature engine.

    python3 perfbench/run.py --workload asof_join --seed 1 --seconds 10 --trace 0

Workloads (see perfbench/README.md for why each was chosen):
  asof_join       compute_temporal_join over the whole events history
  image_asof      extract_pixel_features fused with as-of caption features

One run, from one process: make the seeded inputs (cached, untimed),
set up a session with `build_session` defaults at local[nproc/2] in a
fresh JVM, run one cold pass and WARM_PASSES untimed warm-up passes,
then steady passes for --seconds. Every pass is checked. The
last line of stdout is one JSON object: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end
ones of BENCHMARK.json; with --trace 1 the per-layer ones, from spans
recorded around each engine call, while untraced and traced passes
alternate so the tracing overhead is measured in the same run. The
exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from urllib.parse import unquote, urlparse

import pyspark

import host
import kernel
import workloads
from tracing import NoTracer, StatusStore, Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# end-to-end metrics a run prints but BENCHMARK.json does not bound: they
# are wall-clock figures that CPU steal on a shared host moves by more
# than any bound between runs of the same code
UNBOUNDED = {"cold_s": "s", "wall_s": "s", "rows_per_s": "1/s"}

# untimed warm-up passes after the cold pass
WARM_PASSES = 4
# traced runs alternate at least this many untraced/traced pass pairs
TRACE_PAIRS = 2


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(slots: int) -> None:
    """Keep every file Spark, the JVM and Python write inside the checkout,
    and let the Python workers import the engine."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # build_session sizes master and shuffle partitions from this variable
    os.environ["SPARK_GRAFT_CPUS"] = str(slots)
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
                    # no hsperfdata file under /tmp
                    "-XX:-UsePerfData") if p)


def start_session(tracer, slots: int):
    """`build_session` plus the first tiny action, in a fresh JVM."""
    from chronon_spark.session import build_session

    t0 = time.perf_counter()
    with tracer.span("session.build"):
        spark = build_session("perfbench")
    if spark.sparkContext.master != f"local[{slots}]":
        raise RuntimeError(f"session runs at {spark.sparkContext.master}, not local[{slots}]")
    tracer.bind(spark)
    with tracer.span("session.first_action"):
        spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the context and the JVM behind it, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs, times and checks passes; keeps one record per pass."""

    def __init__(self, wl):
        self.wl = wl
        self.pid = os.getpid()
        self.passes: list[dict] = []

    def one_pass(self, spark, kind: str, tracer, wl=None) -> dict:
        wl = wl or self.wl
        c0, s0, t0 = host.tree_cpu_s(self.pid), host.steal_s(), time.perf_counter()
        span, timed = {}, None
        try:
            with tracer.span("pass") as span:
                state = wl.run_pass(spark, tracer)
            timed = (time.perf_counter() - t0, host.tree_cpu_s(self.pid) - c0,
                     host.steal_s() - s0)
            res = wl.check(spark, state)
        except Exception as e:  # a failing pass is counted, the run goes on
            traceback.print_exc()
            timed = timed or (time.perf_counter() - t0, host.tree_cpu_s(self.pid) - c0,
                              host.steal_s() - s0)
            res = workloads.PassResult(0, [f"{type(e).__name__}: {e}"])
        wall, cpu, steal = timed
        for err in res.errors[:5]:
            print(f"check failed ({kind} pass {len(self.passes)}): {err}", file=sys.stderr)
        rec = {"kind": kind, "wall": wall, "cpu": cpu, "steal": steal, "rows": res.rows,
               "ok": not res.errors, "steps": res.steps, "span": span}
        self.passes.append(rec)
        return rec

    def walls(self, kind: str) -> list[float]:
        return [p["wall"] for p in self.passes if p["kind"] == kind]


def warm_up(spark, runner: Runner) -> None:
    """Untimed passes after the cold one. Per-pass CPU keeps falling for
    four to six passes after the cold pass, while the JIT compiles the
    hot paths and the Python workers fill up; it falls by pass, not by
    time, so a warm-up of fixed length left that drift in the steady
    median on a slow host."""
    for _ in range(WARM_PASSES):
        runner.one_pass(spark, "warm", NoTracer())


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(values)
    if n < 11:
        return None, None
    q = (n - 10) / n
    return q * 100, sorted(values)[n - 11]


def untraced_run(args, wl, slots: int) -> tuple[dict, Runner, dict]:
    tracer = NoTracer()
    runner = Runner(wl)
    with host.PeakRss(os.getpid()) as rss:
        spark, setup = start_session(tracer, slots)
        try:
            runner.one_pass(spark, "cold", tracer)
            warm_up(spark, runner)
            t_end = time.perf_counter() + args.seconds
            while True:
                runner.one_pass(spark, "steady", tracer)
                if time.perf_counter() >= t_end:
                    break
        finally:
            stop_session(spark)
    steady = [p for p in runner.passes if p["kind"] == "steady"]
    wall = statistics.median(p["wall"] for p in steady)
    metrics = {
        "setup_s": setup,
        "cold_s": runner.walls("cold")[0],
        "wall_s": wall,
        "rows_per_s": statistics.median(p["rows"] for p in steady) / wall,
        "cpu_s": statistics.median(p["cpu"] for p in steady),
        "python_peak_rss_mb": rss.peaks["python"] / 1e6,
    }
    q, v = tail(runner.walls("steady"))
    extra = {"wall_s.tail": v, "wall_s.tail_percentile": q,
             "peak_rss_mb": rss.peak / 1e6, "jvm_peak_rss_mb": rss.peaks["jvm"] / 1e6}
    return metrics, runner, extra


def pass_layers(tracer, store, p: dict, slots: int) -> dict:
    """Per-layer figures of one traced pass, read right after it."""
    root = p["span"]
    jobs = sorted({j for sid in tracer.span_ids(root) for j in store.jobs_of(sid)})
    plans = tracer.named(root, "temporal_join.plan")
    # first: the raw SQL metric values are reachable only until the JVM
    # collects the finished plan
    out = store.python_metrics(jobs)
    out.update(store.stage_metrics(jobs))
    out["temporal_join.plan_s"] = sum(s["end"] - s["start"] for s in plans)
    out["temporal_join.plan_jobs"] = sum(len(store.jobs_of(s["id"])) for s in plans)
    out["exec.core_idle"] = 1 - out["exec.run_s"] / (p["wall"] * slots)
    actions = tracer.named(root, "action")
    out["action_s"] = sum(s["end"] - s["start"] for s in actions)
    runs = tracer.named(root, "backfill.run")
    if runs:
        out["backfill.step_s"] = statistics.median(p["steps"])
        out["backfill.write_s"] = sum(
            s["end"] - s["start"] for s in tracer.named(root, "backfill.write"))
        out["backfill.bookkeeping_s"] = (runs[0]["end"] - runs[0]["start"]) - sum(p["steps"])
    return out


def probe(spark, tracer, store, name: str, df_fn) -> tuple[float, dict, int]:
    """One engine call written to the noop sink inside its own span; also
    returns the size of the files it reads (Spark's own input byte count
    misses most reads of the vectorized parquet reader in local mode)."""
    with tracer.span(name) as span:
        df = df_fn(spark)
        df.write.format("noop").mode("overwrite").save()
    file_bytes = sum(os.path.getsize(unquote(urlparse(f).path)) for f in df.inputFiles())
    return span["end"] - span["start"], store.stage_metrics(store.jobs_of(span["id"])), file_bytes


def probe_workloads(wl, seed: int) -> dict:
    """The workloads whose inputs the layer probes read. Every traced run
    makes every probe, whichever workload it runs, so no layer of either
    workload reads as a constant 0: the backfill probe fills from
    asof_join's events, the pixel probe decodes image_asof's images."""
    out = {}
    for cls in (workloads.AsofJoin, workloads.ImageAsof):
        if isinstance(wl, cls):
            out[cls.name] = wl
        else:
            out[cls.name] = cls()
            out[cls.name].prepare(WORK, seed)
    return out


def traced_passes(args, wl, probes: dict, spark, tracer, store, runner: Runner,
                  slots: int) -> dict:
    """Cold pass, warm-up, untraced/traced pairs and the layer probes."""
    got = {"layers": []}
    got["cold"] = pass_layers(tracer, store, runner.one_pass(spark, "cold", tracer), slots)
    warm_up(spark, runner)
    t_end = time.perf_counter() + args.seconds
    pairs = 0
    # untraced/traced pairs in ABBA order, so drift cancels in the overhead
    while pairs < TRACE_PAIRS or time.perf_counter() < t_end:
        for kind in (("untraced", "traced") if pairs % 2 == 0 else ("traced", "untraced")):
            if kind == "untraced":
                runner.one_pass(spark, kind, NoTracer())
            else:
                p = runner.one_pass(spark, kind, tracer)
                got["layers"].append(pass_layers(tracer, store, p, slots))
        pairs += 1
    got["scan"] = probe(spark, tracer, store, "scan", wl.scan_probe)
    images = probes["image_asof"]
    got["pixel_s"] = probe(spark, tracer, store, "multimodal.pixel", images.pixel_probe)[0]
    p = runner.one_pass(spark, "backfill", tracer, probes["asof_join"].backfill_probe())
    got["backfill"] = pass_layers(tracer, store, p, slots)
    return got


def traced_run(args, wl, slots: int, run_id: str) -> tuple[dict, Runner, dict]:
    tracer = Tracer(run_id)
    runner = Runner(wl)
    probes = probe_workloads(wl, args.seed)
    with host.PeakRss(os.getpid()) as rss:
        spark, _ = start_session(tracer, slots)
        try:
            store = StatusStore(spark)
            got = traced_passes(args, wl, probes, spark, tracer, store, runner, slots)
        finally:
            stop_session(spark)
    micro, micro_errors = kernel.run(args.seed)
    for err in micro_errors:
        print(f"check failed: {err}", file=sys.stderr)
    runner.passes.append({"kind": "kernel", "ok": not micro_errors, "wall": 0.0})
    layers, backfill = got["layers"], got["backfill"]
    scan_s, scan, scan_bytes = got["scan"]
    pixel_s = got["pixel_s"]

    def med(key):
        vals = [x[key] for x in layers if x.get(key) is not None]
        return statistics.median(vals) if vals else None

    build = [s for s in tracer.spans if s["name"] == "session.build"][0]
    metrics = {
        "session.build_s": build["end"] - build["start"],
        "python.boot_s": got["cold"]["python.boot_ms"] / 1e3,
        "scan.s": scan_s,
        "scan.rows_in": scan["exec.input_rows"],
        "scan.bytes_in": scan_bytes,
        "temporal_join.plan_s": med("temporal_join.plan_s"),
        "temporal_join.plan_jobs": med("temporal_join.plan_jobs"),
    }
    for key in ("exec.jobs", "exec.tasks", "exec.run_s", "exec.jvm_cpu_s", "exec.gc_s",
                "exec.shuffle_write_bytes", "exec.shuffle_read_bytes", "exec.spill_bytes",
                "exec.peak_task_mem_bytes", "exec.task_skew", "exec.core_idle",
                "python.sent_bytes", "python.received_bytes"):
        metrics[key] = med(key)
    metrics["python.run_s"] = med("python.run_ms") / 1e3
    metrics["python.init_s"] = med("python.init_ms") / 1e3
    metrics.update(micro)
    notes = list(store.notes)
    for key in ("backfill.step_s", "backfill.write_s", "backfill.bookkeeping_s"):
        metrics[key] = backfill[key]
    metrics["jvm.peak_rss_mb"] = rss.peaks["jvm"] / 1e6
    metrics["multimodal.pixel_s"] = pixel_s
    metrics["multimodal.us_per_image"] = pixel_s / workloads.ImageAsof.n_images * 1e6
    untraced, traced = runner.walls("untraced"), runner.walls("traced")
    metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
    for key, v in metrics.items():
        if v is None:
            notes.append(f"{key}: not readable from the status store, reported as 0")
            metrics[key] = 0.0
    extra = {
        "notes": notes,
        "plan_plus_action_s": med("temporal_join.plan_s") + (med("action_s") or 0.0),
        "untraced_wall_s": statistics.median(untraced),
        "self_times": self_times(tracer),
    }
    os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
    tracer.dump(os.path.join(WORK, "traces", f"{run_id}.json"),
                {"layers": layers, "cold": got["cold"], "backfill": backfill,
                 "metrics": metrics})
    return metrics, runner, extra


def self_times(tracer) -> dict:
    out: dict = {}
    for s in tracer.spans:
        agg = out.setdefault(s["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
        agg["n"] += 1
        agg["total_s"] += s["end"] - s["start"]
        agg["self_s"] += tracer.self_time(s)
    return out


def report(args, wl, runner: Runner, metrics: dict, extra: dict, units: dict, ctx: dict):
    """Human-readable lines; the machine-readable result follows them."""
    print(f"perfbench {wl.name} seed={args.seed} trace={args.trace} "
          f"nproc={ctx['nproc']} slots={ctx['slots']} spark={ctx['spark']} "
          f"loadavg_start={ctx['load0']} loadavg_end={ctx['load1']}")
    for i, p in enumerate(runner.passes):
        if p["kind"] != "kernel":
            print(f"  pass {i:2d} {p['kind']:8s} wall={p['wall']:.3f}s cpu={p['cpu']:.2f}s "
                  f"steal={p['steal']:.2f}s rows={p['rows']} ok={p['ok']}")
    attempted = len(runner.passes)
    failed = sum(not p["ok"] for p in runner.passes)
    print(f"  error_rate={failed / attempted:.4f} ({failed} of {attempted} passes)")
    if args.trace == 0:
        n = len(runner.walls("steady"))
        tq, tv = extra["wall_s.tail_percentile"], extra["wall_s.tail"]
        print(f"  wall_s.tail={'n/a' if tv is None else f'{tv:.4f} s (p{tq:.0f})'} "
              f"over {n} steady passes (needs >= 11 for a percentile with 10 beyond it)")
        print(f"  peak_rss_mb={extra['peak_rss_mb']:.0f} MB "
              f"(jvm_peak_rss_mb={extra['jvm_peak_rss_mb']:.0f} MB, not bounded: it follows "
              "the JVM's heap sizing)")
    else:
        for name, agg in sorted(extra["self_times"].items()):
            print(f"  span {name:22s} n={agg['n']:3d} total={agg['total_s']:.3f}s "
                  f"self={agg['self_s']:.3f}s")
        print(f"  plan+action={extra['plan_plus_action_s']:.3f}s "
              f"untraced wall_s={extra['untraced_wall_s']:.3f}s "
              f"trace.overhead_s={metrics['trace.overhead_s']:.3f}s")
        for note in extra["notes"]:
            print(f"  note: {note}")
    for k, v in metrics.items():
        if k in units:
            print(f"  {k} = {v:.6g} {units[k]}")
        else:
            print(f"  {k} = {v:.6g} {UNBOUNDED[k]} (printed only, see perfbench/README.md)")
    return attempted, failed


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "chronon_spark")):
        print(f"perfbench: no engine package at {os.path.join(ROOT, 'chronon_spark')}; "
              "run from the root of a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    slots = host.task_slots()
    prepare_env(slots)
    wl = workloads.WORKLOADS[args.workload]()
    wl.prepare(WORK, args.seed)
    ctx = {"nproc": host.nproc(), "slots": slots, "spark": pyspark.__version__,
           "load0": host.loadavg()}
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}"
    if args.trace:
        metrics, runner, extra = traced_run(args, wl, slots, run_id)
        wanted = spec["per_layer"]
    else:
        metrics, runner, extra = untraced_run(args, wl, slots)
        wanted = spec["end_to_end"]
    ctx["load1"] = host.loadavg()
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    attempted, failed = report(args, wl, runner, metrics, extra, units, ctx)
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in wanted},
    }
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
