#!/usr/bin/env python3
"""Benchmark of the validation and profiling engine.

    python3 perfbench/run.py --workload validate_incremental --seed 1 --seconds 1 --trace 0

Run from the repository root. One client in one process runs the
workload's op in a closed loop (the next op starts when the previous one
returns) against local[nproc], checks every op's output, and prints the
metrics; the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The first op is the first
of a fresh JVM and session; an op takes longer than a second, so
--seconds 1 measures that op alone.

--trace 0 prints the end-to-end metrics. --trace 1 is the separate
traced run: it enables the Spark event log, times each traced op as a
whole and then calls each layer's public functions one after another
inside spans, and prints the per-layer metrics. Its traced and plain
ops follow a plain warm-up op.

Inputs are generated from --seed and cached under perfbench/_work; all
scratch data (Spark local dirs, event logs, outputs, results) stays
there too. A workload's pre-op state, when it has one, is built once by
a separate `run.py --prepare` process and cached there as well. Before
it exits, a run stops every process it started and waits for each.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3  # session set-ups per untraced run; setup_s takes their median

END_TO_END = {
    "setup_s": "s", "op_s_p50": "s", "op_s_tail": "s", "rows_per_s": "1/s",
    "cpu_s_per_op": "s", "peak_rss_mb": "MiB",
}
SESSION = (
    ("jobs", "count"), ("stages", "count"), ("stages_skipped", "count"), ("tasks", "count"),
    ("executor_run_s", "s"), ("executor_cpu_s", "s"), ("gc_s", "s"), ("input_bytes", "B"),
    ("python_bytes_sent", "B"), ("python_bytes_received", "B"), ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"), ("task_skew", "ratio"), ("task_failures", "count"),
)
PIPELINE_TIMINGS = ("plan", "compute_metadata", "decode_verify", "writes", "writes_and_drift", "manifest")
# serial-pass spans; each is reported as <name>_s (self time)
LAYER_SPANS = (
    "sources.images.meta_scan", "operators.image_verify.decode", "operators.stats.profile_approx",
    "operators.constraints.evaluate", "operators.constraints.rowwise_samples",
    "operators.drift.histogram", "operators.drift.score", "operators.drift.categorical",
    "plans.manifest.done_parts", "plans.manifest.record", "plans.id_index.append",
    "plans.id_index.global_check", "operators.typeinfer.infer", "operators.stats.profile_exact",
    "operators.topk.top_k", "operators.correlation.matrix", "operators.text_ml.text",
    "plans.html_report.render",
)
# counts recorded on those spans: metric name -> (span, count key, unit)
LAYER_COUNTS = {
    "operators.image_verify.payload_bytes": ("operators.image_verify.decode", "payload_bytes", "B"),
    "plans.id_index.files": ("plans.id_index.global_check", "files", "count"),
    "operators.typeinfer.parse_attempts": ("operators.typeinfer.infer", "parse_attempts", "count"),
    "operators.typeinfer.distinct_share": ("operators.typeinfer.infer", "distinct_share", "ratio"),
}
PER_LAYER = {
    **{f"session.{k}": u for k, u in SESSION},
    **{f"plans.pipeline.{k}_s": "s" for k in PIPELINE_TIMINGS},
    "plans.pipeline.out_files": "count", "plans.pipeline.out_bytes": "B",
    **{f"{k}_s": "s" for k in LAYER_SPANS},
    **{k: u for k, (_, _, u) in LAYER_COUNTS.items()},
    "probe.kernel_s": "s", "probe.jvm_s": "s",
    "trace.overhead_s": "s", "trace.serial_pass_s": "s", "trace.uncovered_s": "s",
}


def process_start() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest percentile with at least ten
    samples beyond it; the maximum when there are ten samples or fewer."""
    s, n = sorted(values), len(values)
    if n <= 10:
        return 100.0, s[-1]
    return 100.0 * (n - 10) / n, s[n - 11]


class Bench:
    def __init__(self, args, nproc: int) -> None:
        self.args, self.nproc = args, nproc
        self.work = os.path.join(HERE, "_work")
        self.eventlog = os.path.join(self.work, "eventlog")
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # a fixed, pre-touched heap: the JVM's resident size does not
            # depend on when its collector decides to grow the heap
            "spark.driver.memory": "1g",
            "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        }
        if args.trace:
            shutil.rmtree(self.eventlog, ignore_errors=True)
            os.makedirs(self.eventlog)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = None

    def launch(self) -> None:
        """Starts the driver JVM, with the options that only apply at
        launch, without creating a SparkContext."""
        from pyspark import SparkConf, SparkContext

        SparkContext._ensure_initialized(conf=SparkConf(loadDefaults=False).setAll(
            [(k, v) for k, v in self.conf.items() if k.startswith("spark.driver.")]
        ))

    def session(self):
        from advanced_data_profile_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name="perfbench", cores=self.nproc, extra_conf=self.conf)
        return self.spark

    def shutdown(self) -> None:
        """Stops Spark and the JVM it runs in, and waits for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
            SparkContext._gateway = SparkContext._jvm = None


def environment(spark, wl, seed: int, nproc: int) -> dict:
    import pyarrow
    import pyspark

    import fixtures

    commit = None
    if os.path.isdir(os.path.join(ROOT, ".git")):  # a plain checkout has none
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
            ).stdout.strip() or None
        except (OSError, subprocess.TimeoutExpired):
            pass
    return {
        "nproc": nproc,
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "spark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
        "git_commit": commit,
        "engine_source_sha256": fixtures.engine_hash(),
        "seed": seed,
        "fixture": {
            k: getattr(wl, k) for k in ("parts", "new", "rows", "dims", "rows_per_op", "input_bytes")
            if hasattr(wl, k)
        },
    }


def run_op(bench, wl, tr=None):
    """One op, inside an "op" span when a tracer is given:
    (wall s, tree cpu s, output, errors)."""
    from procstats import tree_cpu_s

    wl.reset(bench.spark)
    c0, t0 = tree_cpu_s(), time.perf_counter()
    try:
        with tr.span("op") if tr else contextlib.nullcontext():
            out, errs = wl.op(bench.spark), []
    except Exception as e:  # a failed op is counted, the loop goes on
        out, errs = None, [f"op raised {e!r}"]
    wall, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    if not errs:
        errs = wl.check(bench.spark, out)
    for e in errs[:5]:
        print(f"[{wl.name}] check failed: {e}", file=sys.stderr)
    return wall, cpu, out, errs


def pipeline_stats(wl, out, acc: dict) -> None:
    """Accumulates run_pipeline's own timings and the output size."""
    from workloads import _dir_stats

    if not (isinstance(out, dict) and "timings" in out):
        return
    for k in PIPELINE_TIMINGS:
        acc.setdefault(f"plans.pipeline.{k}_s", []).append(out["timings"].get(k, 0.0))
    files, size = _dir_stats(wl.out)
    acc.setdefault("plans.pipeline.out_files", []).append(files)
    acc.setdefault("plans.pipeline.out_bytes", []).append(size)


def prepare(bench, wl) -> float:
    """Makes the workload's inputs and, when it is not cached yet, its
    pre-op state, which a separate process builds so that this process's
    JVM starts cold; returns the seconds this took."""
    t0 = time.time()
    wl.prepare(bench.nproc)
    if not wl.has_state():
        subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl.name,
             "--seed", str(bench.args.seed), "--prepare"],
            stdout=sys.stderr, check=True, timeout=600,
        )
        if not wl.has_state():
            raise RuntimeError(f"{wl.name}: the pre-op state was not built")
    return time.time() - t0


def untraced(bench, wl, t_start: float) -> tuple[dict, dict]:
    """t_start: when set-up began (process start plus the prepare time)."""
    bench.launch()
    launch_s = time.time() - t_start
    creates = []
    for _ in range(SETUPS):
        t0 = time.time()
        spark = bench.session()
        creates.append(time.time() - t0)
    wl.bind(spark)
    env = environment(spark, wl, bench.args.seed, bench.nproc)

    walls, cpus, failed = [], [], 0
    t_loop = time.time()
    while not walls or time.time() - t_loop < bench.args.seconds:
        wall, cpu, _, errs = run_op(bench, wl)
        walls.append(wall)
        cpus.append(cpu)
        failed += bool(errs)
    p, tail_v = tail(walls)
    metrics = {
        "setup_s": launch_s + statistics.median(creates),
        "op_s_p50": statistics.median(walls),
        "op_s_tail": tail_v,
        "rows_per_s": wl.rows_per_op * len(walls) / sum(walls),
        "cpu_s_per_op": sum(cpus) / len(cpus),
    }
    detail = {
        "env": env, "launch_s": launch_s, "session_create_s": creates,
        "op_walls_s": walls, "op_cpu_s": cpus, "tail_percentile": p, "n_ops": len(walls),
        "failed": failed,
    }
    return metrics, detail


def traced(bench, wl) -> tuple[dict, dict]:
    import eventlog
    import probes
    from tracing import Tracer
    from workloads import ValidateIncremental

    bench.launch()
    spark = bench.session()
    wl.bind(spark)
    env = environment(spark, wl, bench.args.seed, bench.nproc)
    # a plain warm-up op: the traced and plain ops below then both run warm
    failed = bool(run_op(bench, wl)[3])
    tr = Tracer()
    plain, traced_walls, acc = [], [], {}
    pass_spans = []
    t_loop = time.time()
    while not traced_walls or time.time() - t_loop < bench.args.seconds:
        tr.op_id += 1
        wall, _, out, errs = run_op(bench, wl, tr)
        traced_walls.append(wall)
        failed += bool(errs)
        pipeline_stats(wl, out, acc)
        with tr.span("trace.serial_pass") as s:
            wl.trace_layers(spark, tr, out)
        pass_spans.append(s)
        wall, _, out, errs = run_op(bench, wl)
        plain.append(wall)
        failed += bool(errs)
        pipeline_stats(wl, out, acc)

    metrics = {k: 0.0 for k in PER_LAYER}
    for k, vals in acc.items():
        metrics[k] = statistics.mean(vals)
    for name in LAYER_SPANS:
        vals = [tr.self_times(s).get(name, 0.0) for s in pass_spans]
        metrics[f"{name}_s"] = statistics.mean(vals)
    for metric, (span, key, _) in LAYER_COUNTS.items():
        vals = [s.counts[key] for s in tr.spans if s.name == span and s.counts]
        metrics[metric] = statistics.mean(vals) if vals else 0.0
    metrics["trace.serial_pass_s"] = statistics.mean(s.dur for s in pass_spans)
    metrics["trace.uncovered_s"] = statistics.mean(
        tr.self_times(s)["trace.serial_pass"] for s in pass_spans
    )
    metrics["trace.overhead_s"] = statistics.median(traced_walls) - statistics.median(plain)
    metrics["probe.jvm_s"] = probes.jvm_s(spark, bench.nproc)
    if isinstance(wl, ValidateIncremental):  # the only workload with image payloads
        metrics["probe.kernel_s"] = probes.kernel_s(wl.table, bench.nproc)

    bench.shutdown()  # closes the event log
    logs = [os.path.join(bench.eventlog, f) for f in os.listdir(bench.eventlog)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log, found {logs}")
    jobs = eventlog.read_jobs(logs[0])
    by_span = eventlog.attribute(jobs, tr.spans)
    per_op = [eventlog.rollup(by_span.get(s.span_id, [])) for s in tr.spans if s.name == "op"]
    for k, _ in SESSION:
        metrics[f"session.{k}"] = statistics.mean(r[k] for r in per_op)
    spans_digest = {}
    for s in tr.spans:
        if s.name != "op":
            r = eventlog.rollup(by_span.get(s.span_id, []))
            d = spans_digest.setdefault(s.name, {k: 0.0 for k in r} | {"calls": 0})
            d["calls"] += 1
            for k, v in r.items():
                d[k] += v
    detail = {
        "env": env, "op_walls_plain_s": plain, "op_walls_traced_s": traced_walls, "failed": failed,
        "n_ops": 1 + len(plain) + len(traced_walls), "spans_session": spans_digest,
        "unattributed_jobs": len(by_span.get(-1, [])),
    }
    tr.write(os.path.join(bench.work, "results", f"{wl.name}-seed{bench.args.seed}-spans.jsonl"))
    return metrics, detail


def main(argv=None) -> int:
    t_start = process_start()
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--prepare", action="store_true",
        help="only build the workload's cached inputs and pre-op state, then exit",
    )
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import advanced_data_profile_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, "_work")
    for d in ("tmp", "spark-local", "results"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # every process this one starts (JVM, Python workers) works inside the checkout
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        # every JVM, the spark-submit launcher included: no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })
    tempfile.tempdir = None

    from procstats import RssSampler, become_subreaper, stop_tree

    become_subreaper()
    # a terminated run still stops what it started (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = WORKLOADS[args.workload](seed=args.seed)
    bench = Bench(args, nproc)
    try:
        if args.prepare:
            wl.prepare(nproc)
            if not wl.has_state():
                bench.launch()
                wl.build_state(bench.session())
            return 0
        prepare_s = prepare(bench, wl)  # not set-up time
        with RssSampler() as rss:
            if args.trace:
                metrics, detail = traced(bench, wl)
                units = PER_LAYER
            else:
                metrics, detail = untraced(bench, wl, t_start + prepare_s)
                units = END_TO_END
            detail["prepare_s"] = prepare_s
    finally:
        try:
            bench.shutdown()
        finally:
            left = stop_tree()
            if left:
                print(f"perfbench: stopped at exit: {', '.join(left)}", file=sys.stderr)
    if not args.trace:
        metrics["peak_rss_mb"] = rss.peak_mb
        detail["peak_rss_split_mb"] = {k: round(v, 1) for k, v in rss.peak_split.items()}
    attempted, failed = detail["n_ops"], detail["failed"]
    out = os.path.join(work, "results", f"{wl.name}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as f:
        json.dump({"workload": wl.name, **detail, "metrics": metrics}, f, indent=1, default=str)

    print(json.dumps({"env": detail["env"]}, default=str))
    for k in units:
        print(f"{k:42s} {metrics[k]:>16.6g} {units[k]}")
    print(f"{'error_rate':42s} {failed / attempted:>16.6g} ratio  ({failed}/{attempted} ops)")
    if args.trace:
        print(f"{'span (event-log roll-up, all calls)':42s} {'calls':>5s} {'jobs':>5s} {'tasks':>6s} {'exec_cpu_s':>10s}")
        for name, d in detail["spans_session"].items():
            print(f"{name:42s} {d['calls']:5d} {d['jobs']:5.0f} {d['tasks']:6.0f} {d['executor_cpu_s']:10.3f}")
    else:
        print(f"op_s_tail is p{detail['tail_percentile']:.1f} of n={attempted} ops")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
