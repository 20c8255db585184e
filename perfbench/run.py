"""Repository benchmark: one workload, one seed, one Spark session.

    python3 perfbench/run.py --workload roundtrip --seed 1 --seconds 28 --trace 0

Run from the repository root. The run starts ``local[4]`` Spark from
this process and sets up: the input is generated from ``--seed`` with
``jobs.synth`` and the expected results are computed from it (three
times; the median counts), then an untimed warm-up cycle runs. Then
come closed-loop cycles of checked operations (one client). ``--seconds``
sets their number: seconds divided by the workload's nominal cycle time,
so every commit runs the same operations and gets the same sample
counts, and a faster program finishes sooner. Every operation's output
is checked; a raised error or a wrong output counts as failed.

The host's speed moves by half again from minute to minute, and every
time figure with it. So an untraced run starts each cycle with a fixed
reference Spark job and states its times at the speed of a reference
host (perfbench/hostspeed.py); the raw figures and the factor are in
the report. The JVM runs C1-compiled code only (see start_session).

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` — the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1`` (see perfbench/tracing.py).
A human-readable report goes to stderr. Scratch files live under
``.perfbench_work/`` in the repository root and are removed on exit; a
traced run leaves its spans there as ``spans-<workload>-seed<n>.jsonl``.

``--rows`` and ``--corrupt-expected`` exist for the self-test
(perfbench/test_perfbench.py): a tiny input, and a deliberately wrong
expected checksum that must show up as failed operations.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from contextlib import nullcontext

from hostspeed import factor, reference_s
from procfs import (host_counters, host_delta, tree_cpu_s,
                    worker_peaks_mb)
from tracing import UNITS, Tracer
from workloads import CORES, CYCLE, WORKLOADS, Store, materialise

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPEATS = 3

# name -> unit, in printed order
END_TO_END = {
    "setup_s": "s",
    "write_mtok_s": "Mtok/s",
    "write_cpu_s_per_mtok": "CPU-s/Mtok",
    "read_mtok_s": "Mtok/s",
    "read_cpu_s_per_mtok": "CPU-s/Mtok",
    "bits_per_token": "bits",
    "point_lookup_p50_ms": "ms",
    "point_lookup_tail_ms": "ms",
    "range_read_p50_ms": "ms",
    "range_read_tail_ms": "ms",
    "worker_peak_rss_mb": "MB",
    "ok_ops": "fraction",
}


def tail(values: list[float]) -> tuple[float, float]:
    """(quantile, value): the highest quantile with at least ten samples
    above it; the median when there are fewer than twenty samples."""
    s = sorted(values)
    n = len(s)
    if n < 20:
        return 0.5, statistics.median(s)
    return (n - 10) / n, s[n - 11]


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def _env(work: str) -> None:
    """Keep every file Spark, the JVM and the Python workers write
    inside the work directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["ARROW_DEFAULT_MEMORY_POOL"] = "system"
    os.environ["PYTHONHASHSEED"] = "0"  # same str hashing in every worker


def start_session(work: str, event_log: str | None = None):
    from pyspark.sql import SparkSession
    b = (SparkSession.builder.master(f"local[{CORES}]")
         .appName("perfbench")
         .config("spark.driver.memory", "2g")
         # C1 only: in a run this short C2 compiles never pay back, and
         # when they land differs from JVM to JVM, which moved every
         # figure between runs of the same code
         .config("spark.driver.extraJavaOptions",
                 "-XX:-UsePerfData -XX:+AlwaysPreTouch -XX:+UseParallelGC "
                 f"-XX:TieredStopAtLevel=1 -Djava.io.tmpdir={work}/tmp")
         .config("spark.local.dir", os.path.join(work, "local"))
         .config("spark.sql.warehouse.dir", os.path.join(work, "wh"))
         .config("spark.sql.shuffle.partitions", str(2 * CORES))
         .config("spark.sql.adaptive.enabled", "false")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "16384")
         .config("spark.sql.files.maxPartitionBytes", "16m")
         .config("spark.shuffle.compress", "false")
         .config("spark.shuffle.spill.compress", "false")
         .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false"))
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + event_log)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to end."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class Runner:
    """Closed-loop execution of the operation cycle on one workload."""

    def __init__(self, store, tracer=None):
        self.store = store
        self.tracer = tracer
        # untraced runs time the host-speed reference once per cycle
        self.refs: list[float] | None = None if tracer else []
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[dict]] = {
            k: [] for k in ("write", "scan", "lookup", "range")}
        self._q = {"lookup": 0, "range": 0}
        self.traced_cycles = 0

    def op(self, kind: str, record: bool, traced: bool = False) -> None:
        pid = os.getpid()
        if kind in self._q:
            i = self._q[kind]
            self._q[kind] += 1
            call = lambda: getattr(self.store, kind)(i)  # noqa: E731
        else:
            call = getattr(self.store, kind)
        cpu0 = tree_cpu_s(pid)
        t0 = time.perf_counter()
        try:
            with self.tracer.op(kind) if traced else nullcontext():
                ok, detail = call()
        except Exception as e:  # an op that raises counts as failed
            ok, detail = False, {"error": f"{type(e).__name__}: {e}"}
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(pid) - cpu0
        log(f"  {kind:6s} {wall:7.3f} s  cpu {cpu:7.3f} s  {detail}")
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"FAILED {kind}: {detail}")
            return
        if record:
            self.samples[kind].append(
                dict(detail, wall=wall, cpu=cpu, traced=traced,
                     lat=wall / detail.get("calls", 1),
                     rss=max(worker_peaks_mb(pid), default=0.0)))

    def cycle(self, record: bool, traced: bool = False) -> None:
        if self.refs is not None:
            inputs = self.store.inputs
            wall = reference_s(self.store.spark, inputs.path, inputs.rows)
            log(f"  ref    {wall:7.3f} s")
            if record:
                self.refs.append(wall)
        for kind in CYCLE:
            self.op(kind, record, traced)

    def timed(self, cycles: int, trace: bool) -> None:
        """``cycles`` cycles; with tracing, the first and every other
        cycle run traced, the rest untraced."""
        for n in range(cycles):
            traced = trace and n % 2 == 0
            self.cycle(True, traced=traced)
            self.traced_cycles += traced


def end_to_end(r: Runner, setup_s: float, store, inputs) -> dict:
    """The end-to-end metrics, times stated at the reference host speed
    (perfbench/hostspeed.py); the raw figures go to the report."""
    s = {k: [x for x in v if not x["traced"]] for k, v in r.samples.items()}
    med = statistics.median
    out = {"setup_s": setup_s}
    for kind, name in (("write", "write"), ("scan", "read")):
        xs = s[kind]
        out[f"{name}_mtok_s"] = med(
            [x["tokens"] / 1e6 / x["wall"] for x in xs]) if xs else 0.0
        out[f"{name}_cpu_s_per_mtok"] = med(
            [x["cpu"] / (x["tokens"] / 1e6) for x in xs]) if xs else 0.0
    out["bits_per_token"] = (store.stored_bytes or 0) * 8 / inputs.tokens
    quant = {}
    for kind, name in (("lookup", "point_lookup"), ("range", "range_read")):
        ms = [x["lat"] * 1e3 for x in s[kind]]
        out[f"{name}_p50_ms"] = med(ms) if ms else 0.0
        q, v = tail(ms) if ms else (0.5, 0.0)
        out[f"{name}_tail_ms"] = v
        quant[name] = (q, len(ms))
    out["worker_peak_rss_mb"] = max(
        [x["rss"] for v in s.values() for x in v] or [0.0])
    out["ok_ops"] = 1 - r.failed / max(r.attempted, 1)
    for name, (q, n) in quant.items():
        log(f"{name}_tail_ms is p{100 * q:.0f} of {n} samples")
    for kind, xs in s.items():
        log(f"{kind}: {len(xs)} samples, latencies "
            f"{[round(x['lat'], 3) for x in xs]}")
    f = factor(r.refs)
    log(f"host speed factor {f:.4f} (median of {len(r.refs)} reference "
        "walls); raw: " + ", ".join(f"{k} {v:.4f}" for k, v in out.items()))
    for k in out:
        if k.endswith("_mtok_s"):  # a rate
            out[k] *= f
        elif k.endswith(("_s", "_ms", "_per_mtok")):  # a time
            out[k] /= f
    return out


def per_layer(tracer, runner: Runner, store, inputs, spans: str) -> dict:
    """Replay, reduce the trace to per-layer metrics, report, and write
    the spans to ``spans``."""
    tracer.replay(store, inputs)
    log(f"replay {tracer.replay_wall:.3f} s")
    runner.attempted += 1
    if not tracer.replay_ok:
        runner.failed += 1
        log("FAILED replay: re-encoded bytes or query results differ "
            "from the Spark run")
    metrics = tracer.layer_metrics(runner, store, inputs)
    log("self time by span (Spark-side operations and replay):")
    for line in tracer.report:
        log("  " + line)
    for k in sorted(metrics):
        if k.startswith(("phase.", "trace.")):
            log(f"  {k} = {metrics[k]:.4f}")
    tracer.dump(spans)
    log(f"spans written to {spans}")
    return metrics


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rows", type=int, default=None,
                    help="input rows (default: the workload's size)")
    ap.add_argument("--corrupt-expected", action="store_true",
                    help="self-test: perturb the expected scan checksum")
    args = ap.parse_args(argv)

    # fail fast, before any process starts, outside a full checkout
    for d in ("jobs", "engine"):
        if not os.path.isdir(os.path.join(ROOT, d)):
            log(f"perfbench: {d}/ not found under {ROOT}")
            return 2
    sys.path.insert(0, ROOT)
    import jobs.encode  # noqa: F401  (import errors end the run here)
    import jobs.orc_read  # noqa: F401
    w = WORKLOADS[args.workload]
    rows = args.rows or w.rows

    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _env(work)
    host0 = host_counters()
    spark = None
    try:
        tracer = None
        if args.trace:
            tracer = Tracer(os.path.join(work, "events"))
        t0 = time.perf_counter()
        spark = start_session(work, tracer.event_dir if tracer else None)
        session_s = time.perf_counter() - t0

        reps, inputs = [], None
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            got = materialise(spark, os.path.join(work, "input"), rows,
                              args.seed, corrupt=args.corrupt_expected)
            reps.append(time.perf_counter() - t0)
            if inputs is not None and got.expected != inputs.expected:
                raise RuntimeError("set-up is not deterministic")
            inputs = got
        store = Store(spark, w.layout, inputs, work)
        runner = Runner(store, tracer)
        t0 = time.perf_counter()
        store.prepare()
        prepare_s = time.perf_counter() - t0
        # an untimed cycle and one more write (the slowest to warm):
        # starts the Python workers and warms the JIT and the kernels'
        # arenas before any figure is taken
        t0 = time.perf_counter()
        runner.cycle(record=False)
        runner.op("write", record=False)
        warm_s = time.perf_counter() - t0
        setup_s = session_s + statistics.median(reps) + prepare_s + warm_s
        log(f"set-up {setup_s:.3f} s: session {session_s:.3f}, "
            f"materialise {[round(x, 3) for x in reps]}, prepare "
            f"{prepare_s:.3f}, warm-up {warm_s:.3f}; {inputs.rows} rows, "
            f"{inputs.tokens} tokens")

        # a fixed number of cycles per --seconds, so that every commit
        # runs the same operations and gets the same sample counts
        cycles = max(2 if args.trace else 1,
                     round(args.seconds / w.cycle_s))
        t0 = time.perf_counter()
        runner.timed(cycles, trace=bool(args.trace))
        log(f"timed: {cycles} cycles in {time.perf_counter() - t0:.3f} s")

        if args.trace:
            stop_session(spark)  # flushes the event log
            spark = None
            metrics = per_layer(tracer, runner, store, inputs, os.path.join(
                ROOT, ".perfbench_work",
                f"spans-{w.name}-seed{args.seed}.jsonl"))
            units = UNITS
        else:
            metrics = end_to_end(runner, setup_s, store, inputs)
            units = END_TO_END
        host = host_delta(host0, host_counters())
        log("host: " + json.dumps({k: round(v, 3)
                                   for k, v in host.items()}))
        if args.trace:
            for k in ("cpu_user_s", "cpu_sys_s", "sys_user_ratio",
                      "pgmajfault"):
                metrics[f"host.{k}"] = host[k]
    except Exception:
        import traceback
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run still uses it
            pass

    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]}
                    for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
