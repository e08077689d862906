"""Benchmark for polars_ds_extension_spark.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. One process, one local Spark session
(``local[n]``, n = usable cores capped at 8), one client issuing ops in
a closed loop: the next op starts only after the previous one has been
forced to completion and its pins and cached frames released.

Phases of a run:
  1. make the workload's inputs from ``--seed`` (``bench.gen_s``, kept
     out of ``setup_s``) under ``.perfbench_work/`` in the repo root;
  2. start the session and run a fixed number of untimed warm passes,
     with JVM and Python GC between passes, never between ops;
  3. the host calibration job, the timed window, and the calibration
     job again. The window is a fixed count of whole passes,
     ``--seconds`` over the workload's nominal pass time (``pass_s``),
     so every run times the same ops and ``op_tail_s`` is always taken
     over the same number of walls. ``ops_per_s`` is the median over
     the window's passes of each pass's completed ops over its wall, so
     one pass slowed by a burst of host load does not move it;
  4. the correctness gate; a failed gate makes the run incorrect.

``--trace 0`` prints every end-to-end metric named in BENCHMARK.json.
``--trace 1`` traces every other op of each pass, shifting by one op each
pass, so over a pair of passes every op runs once traced and once not.
It prints every per-layer metric: layer times are means per call, engine
readings means per traced op, and ``trace.overhead_frac`` compares the
ops/s of the traced ops, tracing cost included, with the untraced ones. Spans are written to
``.perfbench_work/spans-<workload>-<seed>.jsonl``.

The last line of stdout is the result JSON; the line before it holds
details (warm-pass walls, tail percentile and sample count, gate
findings).
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from collections import defaultdict  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
MAX_CORES = 8  # keeps the JVM plus Python workers small on a shared host


class Run:
    """What an op sees: the session, its output directory, and the
    span/engine hooks that are no-ops outside traced passes."""

    def __init__(self, spark, out, tracer, engine):
        self.spark = spark
        self.out = out
        self.tracer = tracer
        self.engine = engine
        self.traced = False
        self.group = None
        self.eager = defaultdict(list)
        self.catalyst: list[float] = []

    def span(self, name):
        return self.tracer.span(name) if self.traced else nullcontext()

    def call(self, name, fn):
        """Call into a layer; in traced passes count the Spark jobs the
        call started before returning (``<layer>.eager_jobs``)."""
        if not self.traced:
            return fn()
        before = len(self.engine.job_ids(self.group))
        with self.tracer.span(name):
            out = fn()
        self.eager[name.rsplit(".", 1)[0]].append(len(self.engine.job_ids(self.group)) - before)
        return out

    def forced(self, df):
        if self.traced:
            self.catalyst.append(self.engine.catalyst_s(df))


def _cores() -> int:
    return max(1, min(len(os.sched_getaffinity(0)), MAX_CORES))


def _gc(spark) -> None:
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _stop(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited.
    The JVM leaves when its stdin closes; the next session in this
    process then starts a fresh one."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc = gateway.proc
    proc.stdin.close()
    proc.wait(timeout=60)


def _window_passes(seconds: float, pass_s: float, trace: bool) -> int:
    """Whole passes in the timed window: ``--seconds`` over the
    workload's nominal pass time, at least one. The count depends on
    the arguments only, so every run times the same ops whatever the
    host's speed; a traced run times an even count."""
    n = max(1, round(seconds / pass_s))
    return n + n % 2 if trace else n


def _tail(walls: list[float]) -> tuple[float, float]:
    """Highest percentile with at least 10 samples above it, and that
    percentile; the maximum when there are 10 samples or fewer."""
    w = sorted(walls)
    n = len(w)
    if n <= 10:
        return w[-1], 100.0
    return w[n - 11], 100.0 * (n - 10) / n


def _geo_median(by_type: dict[str, list[float]]) -> float:
    meds = [statistics.median(v) for v in by_type.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def _tree_bytes(paths: list[str]) -> int:
    total = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
        for d, _, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "polars_ds_extension_spark")) \
            or not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")) \
            or not os.path.isfile(spec_path):
        print("perfbench: run from the repository root (library, __spark_entry__.py "
              "and BENCHMARK.json are required)", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    sys.path.insert(0, ROOT)

    import probe
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_dir = os.path.join(WORK, tag)
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "out"))
    try:
        os.chdir(run_dir)  # the JVM's working directory: warehouse and Derby files
        return _bench(args, spec, wl, run_dir, probe)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)


def _bench(args, spec, wl, run_dir, probe) -> int:
    t0 = time.perf_counter()
    gen_info = wl.generate(args.seed, os.path.join(run_dir, "data"))
    gen_s = time.perf_counter() - t0

    cores = _cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    # Python workers import the library by module path from the repo root.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    jtmp = os.path.join(run_dir, "jvm-tmp")
    os.makedirs(jtmp)
    # The inputs are a few MB; a 2 GB heap keeps the run small on a shared
    # host and bounds how far the heap (most of peak RSS) can drift. Fixed
    # heap and young-generation sizes, rather than adaptive ones, gave every
    # process the same heap geometry; on 4 cores that cut the spread of
    # peak_rss_mb over five seeds from 0.04 to 0.01 (IQR / median).
    os.environ["SPARK_GRAFT_JAVA_OPTS"] = (
        "-XX:+UseParallelGC -XX:-UsePerfData -Xms2g -Xmn512m -XX:-UseAdaptiveSizePolicy "
        f"-Djava.io.tmpdir={jtmp}")
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"

    from polars_ds_extension_spark._utils import release_pins
    from polars_ds_extension_spark.session import get_spark

    tracer = probe.Tracer(bool(args.trace))
    ts = time.perf_counter()
    with tracer.span("session.start"):
        spark = get_spark(app=f"perfbench-{args.workload}")
        spark.sparkContext.setLogLevel("ERROR")
    session_start_s = time.perf_counter() - ts
    try:
        engine = probe.Engine(spark) if args.trace else None
        run = Run(spark, os.path.join(run_dir, "out"), tracer, engine)
        wl.setup(run)
        failed, attempted, errors = 0, 0, []
        op_seq = 0

        def do_pass(ops, walls, timed=True, parity=None):
            """Run one pass, adding each op's wall to ``walls``. Only
            ``timed`` passes count ops as attempted; a failed op counts in
            any pass. With ``parity`` (traced runs only) every other op is
            traced, starting at op ``parity``, and each op's cost, tracing
            included, is added to ``cost[traced]``."""
            nonlocal failed, attempted, op_seq
            for j, (op_type, fn) in enumerate(ops):
                run.traced = parity is not None and j % 2 == parity
                op_seq += 1
                run.group = f"op{op_seq}"
                tracer.op_id = run.group
                t0 = time.perf_counter()
                if run.traced:
                    engine.skip_executions()
                spark.sparkContext.setJobGroup(run.group, op_type)
                attempted += timed
                t = time.perf_counter()
                try:
                    with run.span("op." + op_type):
                        fn(run)
                except Exception as ex:  # one failed op must not end the run
                    failed += 1  # warm-pass failures too
                    errors.append(f"{op_type}: {ex!r}"[:300])
                    traceback.print_exc(file=sys.stderr)
                wall = time.perf_counter() - t
                if run.traced:  # engine readings are tracing cost, not op time
                    with tracer.span("engine.read"):
                        _read_engine(run, engine, layer, by_op[op_type], wall)
                t = time.perf_counter()
                with run.span("pins.release"):
                    release_pins()
                    spark.catalog.clearCache()
                walls[op_type].append(wall + time.perf_counter() - t)
                if timed:
                    cost[run.traced][0] += 1
                    cost[run.traced][1] += time.perf_counter() - t0
            run.traced = False

        layer = defaultdict(list)
        by_op = defaultdict(lambda: defaultdict(list))
        warm_walls, warm_ops = [], defaultdict(list)
        for i in range(wl.warm_passes):
            t = time.perf_counter()
            do_pass(wl.passes(run, i), warm_ops, timed=False)
            warm_walls.append(time.perf_counter() - t)
            _gc(spark)
        with tracer.span("host.calib"):
            calib = [probe.calibrate(spark)]
        _gc(spark)
        setup_s = time.perf_counter() - PROCESS_START - gen_s

        walls = defaultdict(list)
        cost = {False: [0, 0.0], True: [0, 0.0]}  # ops and seconds, untraced/traced
        n_passes = _window_passes(args.seconds, wl.pass_s, args.trace)
        pass_rates = []  # completed ops per second of each window pass
        with probe.RssSampler() as rss:
            for k in range(n_passes):
                if k:
                    _gc(spark)
                ops, failed_before = wl.passes(run, wl.warm_passes + k), failed
                p0 = time.perf_counter()
                do_pass(ops, walls, True, k % 2 if args.trace else None)
                pass_rates.append((len(ops) - (failed - failed_before)) / (time.perf_counter() - p0))
        with tracer.span("host.calib"):
            calib.append(probe.calibrate(spark))

        t = time.perf_counter()
        try:
            ok, gate = wl.gate(run)
        except Exception as ex:  # e.g. an output a failed op never wrote
            traceback.print_exc(file=sys.stderr)
            ok, gate = False, {"error": repr(ex)[:300]}
        gate_s = time.perf_counter() - t
        if args.trace:
            extra = _trace_extras(wl, run, tracer, engine, spark)
    finally:
        _stop(spark)

    all_walls = [w for v in walls.values() for w in v]
    tail, tail_pct = _tail(all_walls)
    details = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "inputs": gen_info, "bench.gen_s": gen_s, "session.start_s": session_start_s,
        "warm_pass_walls_s": warm_walls, "warm_op_walls_s": warm_ops, "window_pass_ops_per_s": pass_rates,
        "ops": {k: len(v) for k, v in walls.items()},
        "op_medians_s": {k: statistics.median(v) for k, v in walls.items()}, "tail_percentile": tail_pct,
        "tail_samples": len(all_walls), "host.calib_s": calib, "gate": gate, "gate_s": gate_s,
        "errors": errors[:5],
    }
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = _per_layer(tracer, layer, run, cost, session_start_s, gen_s, calib, extra, gate)
        span_file = os.path.join(WORK, f"spans-{args.workload}-{args.seed}.jsonl")
        tracer.dump(span_file)
        details["spans"] = {"file": os.path.relpath(span_file, ROOT), "count": len(tracer.spans),
                            "self_s": tracer.self_times()}
        details["engine_by_op"] = {op: {k: statistics.fmean(v) for k, v in m.items()}
                                   for op, m in by_op.items()}
    else:
        names = [m["name"] for m in spec["end_to_end"]]
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {
            "setup_s": setup_s,
            "ops_per_s": statistics.median(pass_rates),
            "op_median_s": _geo_median(walls),
            "op_tail_s": tail,
            "peak_rss_mb": rss.peak_mb,
        }
    print(json.dumps(details, default=str))
    print(json.dumps({
        "correct": bool(ok) and failed == 0,
        "attempted": attempted,
        "failed": failed + (0 if ok else 1) if attempted else 0,
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names},
    }))
    return 0


def _read_engine(run, engine, layer, op_layer, wall):
    tot = engine.stage_totals(engine.job_ids(run.group))
    tot.update(engine.python_times())
    n_pins, cached = engine.pins()
    tot["pins.live_after_op"] = n_pins
    tot["pins.cached_mb"] = cached
    tot["wall"] = wall
    tot["catalyst_s"] = sum(run.catalyst)
    run.catalyst.clear()
    for k, v in tot.items():
        layer[k].append(v)
        op_layer[k].append(v)


def _trace_extras(wl, run, tracer, engine, spark):
    """Readings taken after the window: a count() of each input through
    the sources layer, and the LSH work ratio on corpus_dedup."""
    from polars_ds_extension_spark.sources import load_table

    run.traced = True
    tracer.op_id = "extras"
    out = {}
    for path in wl.inputs():
        d, f = os.path.split(path)
        with run.span("sources.scan"):
            load_table(spark, d, f[:-len(".parquet")]).count()
    if hasattr(wl, "candidate_stats"):
        out["dedup.verified_per_candidate"] = wl.candidate_stats(run)
    out["sinks.write_bytes_per_input_byte"] = _tree_bytes(wl.outputs()) / _tree_bytes(wl.inputs())
    run.traced = False
    return out


def _per_layer(tracer, layer, run, cost, session_start_s, gen_s, calib, extra, gate):
    dur = tracer.durations()
    v = {name + "_s": statistics.fmean(d) for name, d in dur.items() if not name.startswith("op.")}
    for layer_name, counts in run.eager.items():
        v[layer_name + ".eager_jobs"] = statistics.fmean(counts)
    n = max(len(layer["wall"]), 1)
    mean = {k: sum(x) / n for k, x in layer.items()}
    cores = run.engine.cores
    for k in ("jobs", "executor_run_s", "executor_cpu_s", "jvm_gc_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb", "python_udf_s", "python_boot_s", "catalyst_s"):
        v["engine." + k] = mean.get(k, 0.0)
    v["engine.core_idle_frac"] = 1.0 - sum(layer["executor_run_s"]) / max(sum(layer["wall"]) * cores, 1e-9)
    v["pins.live_after_op"] = mean.get("pins.live_after_op", 0.0)
    v["pins.cached_mb"] = mean.get("pins.cached_mb", 0.0)
    v["session.start_s"] = session_start_s
    v["bench.gen_s"] = gen_s
    v["host.calib_s"] = statistics.fmean(calib)
    self_s = tracer.self_times()
    op_spans = sum(len(d) for name, d in dur.items() if name.startswith("op."))
    v["bench.self_s"] = sum(s for name, s in self_s.items() if name.startswith("op.")) / max(op_spans, 1)
    (un_ops, un_s), (tr_ops, tr_s) = cost[False], cost[True]
    v["trace.untraced_ops_per_s"] = un_ops / un_s if un_s else 0.0
    v["trace.traced_ops_per_s"] = tr_ops / tr_s if tr_s else 0.0
    v["trace.overhead_frac"] = 1.0 - v["trace.traced_ops_per_s"] / v["trace.untraced_ops_per_s"] \
        if v["trace.untraced_ops_per_s"] else 0.0
    v["dedup.planted_recall"] = gate.get("planted_recall", 0.0)
    v.update(extra)
    return v


if __name__ == "__main__":
    sys.exit(main())
