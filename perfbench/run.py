"""Benchmark runner: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload chat_query --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout against the package in that
checkout, on one ``local[nproc]`` Spark session. Everything the run
writes (tables, landing files, checkpoints, Spark local dirs) lives in a
per-run directory under ``.perfbench_tmp/`` that is removed at exit.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` they are the per-layer ones, and
the line before it is a per-class layer table. An ``info`` JSON line
before the result carries the host record, the warm-up windows, the
first-half/second-half drift and per-class latency medians.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# Warm-up: windows run until the window's median latency stops falling
# by more than WARM_TOLERANCE, at least WARM_MIN and at most WARM_MAX
# windows (the cap keeps every run inside the benchmark's time budget).
WARM_MIN, WARM_MAX, WARM_TOLERANCE = 2, 3, 0.05
# Scale factor of the generated tables (lineitem = 6M x SF rows).
SF = 0.01


def _host_sample() -> dict:
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    with open("/proc/loadavg") as fh:
        load = float(fh.read().split()[0])
    return {"steal": cpu[7] if len(cpu) > 7 else 0, "total": sum(cpu), "load_1m": load}


def host_record(first: dict, last: dict) -> dict:
    """Recorded with every run, never used to scale or drop a sample."""
    import pyspark

    total = max(1, last["total"] - first["total"])
    return {
        "steal_pct": 100.0 * (last["steal"] - first["steal"]) / total,
        "load_1m": last["load_1m"],
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": pyspark.__version__,
    }


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.2f}s] {msg}", file=sys.stderr, flush=True)


class _NoTrace:
    active = False

    @staticmethod
    def span(name, fn, *args, **kwargs):
        return fn(*args, **kwargs)


@dataclass
class Ctx:
    spark: object
    run_dir: str
    data_dir: str
    seed: int
    sf: float
    tracer: object


@dataclass
class Sample:
    op: object
    ms: float
    traced: bool
    error: str | None = None
    counters: dict | None = None
    op_id: str = ""
    stats: dict | None = None


def start_session(run_dir: str):
    from floatchat_datapipeline_spark.session import get_spark

    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = java_opts  # the spark-submit launcher JVM
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        spark.stop()
        SparkContext._gateway.shutdown()
    finally:
        if proc is not None:
            # the JVM exits when its stdin closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def drop_new_persisted(spark, baseline: set[int]) -> None:
    """Unpersist RDDs cached or locally checkpointed since set-up, so
    frames do not build up across operations."""
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in list(rdds.keySet().toArray()):
        if int(rid) not in baseline:
            rdds.get(rid).unpersist(False)


def persisted_ids(spark) -> set[int]:
    return {int(r) for r in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


class Runner:
    def __init__(self, wl, ctx: Ctx) -> None:
        self.wl, self.ctx = wl, ctx
        self.baseline: set[int] = set()
        self.n = 0

    def run_op(self, op, traced: bool, timed: bool) -> Sample:
        tracer = self.ctx.tracer
        self.n += 1
        op_id = f"op{self.n}"
        mark = None
        if traced:
            mark = tracer.begin_op(op_id)
            tracer.active = True
        error = None
        result = None
        t0 = time.perf_counter()
        try:
            result = tracer.span("op", self.wl.run, op)
        except Exception:  # one failed operation fails alone
            error = traceback.format_exc(limit=3)
        ms = (time.perf_counter() - t0) * 1000.0
        tracer.active = False
        counters = None
        if traced:
            counters = tracer.end_op(mark, result.frames if result else [])
        if error is None:
            try:
                error = self.wl.check(op, result.output, timed)
            except Exception:
                error = traceback.format_exc(limit=3)
        if error:
            print(f"[{self.wl.name}] {op.cls}/{op.kind} failed: {error}", file=sys.stderr)
        drop_new_persisted(self.ctx.spark, self.baseline)
        stats = result.stats if result else {}
        return Sample(op, ms, traced, error, counters, op_id, stats)

    def window(self, traced: bool = False) -> list[Sample]:
        return [self.run_op(op, traced, True) for op in self.wl.window()]

    def warm_window(self) -> list[Sample]:
        return [self.run_op(op, False, False) for op in self.wl.warm_window()]


def warm_up(runner: Runner) -> list[float]:
    """Run windows until the per-window median latency stops falling;
    returns those medians."""
    medians: list[float] = []
    while len(medians) < WARM_MAX:
        medians.append(statistics.median(s.ms for s in runner.warm_window()))
        if len(medians) >= WARM_MIN and medians[-1] >= (1 - WARM_TOLERANCE) * medians[-2]:
            break
    return medians


def drift_pct(figures: list[float]) -> float | None:
    if len(figures) < 2:
        return None
    half = len(figures) // 2
    first = statistics.median(figures[:half])
    second = statistics.median(figures[len(figures) - half:])
    return 100.0 * (second / first - 1.0)


def end_to_end(samples: list[Sample], setup_s: float) -> dict:
    """Throughput is the rate at each class's median latency (operations
    over the sum of count x median per class), so one stalled operation
    does not swing it the way a sum of latencies would."""
    ok = [s for s in samples if s.error is None]
    median_ms = 0.0
    for cls in {s.op.cls for s in samples}:
        ms = [s.ms for s in samples if s.op.cls == cls]
        median_ms += len(ms) * statistics.median(ms)
    return {
        "setup_s": {"value": setup_s, "unit": "s"},
        "throughput_per_s": {"value": len(ok) / (median_ms / 1000.0), "unit": "1/s"},
        "p50_ms": {"value": statistics.median(s.ms for s in samples), "unit": "ms"},
    }


def class_medians(samples: list[Sample]) -> dict:
    """Median latency per request class, and per stage where an
    operation reports its stages (`<stage>_ms` stats)."""
    out = {}
    for cls in sorted({s.op.cls for s in samples}):
        ms = [s.ms for s in samples if s.op.cls == cls]
        out[f"{cls}_p50_ms"] = statistics.median(ms)
        out[f"{cls}_n"] = len(ms)
    for key in sorted({k for s in samples for k in s.stats if k.endswith("_ms")}):
        out[key.replace("_ms", "_p50_ms")] = statistics.median(
            s.stats[key] for s in samples if key in s.stats
        )
    if len(samples) >= 100:  # ten samples beyond the 90th percentile
        out["p90_ms"] = statistics.quantiles([s.ms for s in samples], n=10)[-1]
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans to this JSON file")
    ap.add_argument("--sf", type=float, default=SF, help="scale factor of the generated tables")
    args = ap.parse_args(argv)

    if not (ROOT / "floatchat_datapipeline_spark" / "__init__.py").is_file():
        print(f"no floatchat_datapipeline_spark package under {ROOT}", file=sys.stderr)
        return 2
    import workloads  # noqa: PLC0415

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}-{time.time_ns()}"
    run_dir.mkdir(parents=True)
    # The package, the benchmark modules and the Spark Python workers all
    # import from this checkout; temp files stay in the run dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), str(HERE)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, str(ROOT))
    os.environ["TMPDIR"] = str(run_dir)
    import tempfile  # noqa: PLC0415

    tempfile.tempdir = str(run_dir)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    # a terminated run still stops Spark and removes its run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    host0 = _host_sample()
    spark = None
    try:
        spark = start_session(str(run_dir))
        log("session started")
        tracer = _NoTrace()
        if args.trace:
            import tracing  # noqa: PLC0415

            tracer = tracing.Tracer(spark)
            tracer.install()
        ctx = Ctx(spark, str(run_dir), str(run_dir / "data"), args.seed, args.sf, tracer)
        wl = workloads.WORKLOADS[args.workload](ctx)
        wl.setup()
        log("workload set up")
        runner = Runner(wl, ctx)
        runner.baseline = persisted_ids(spark)
        warm = warm_up(runner)
        log(f"warmed up over {len(warm)} windows")
        setup_s = time.perf_counter() - T_START

        samples: list[Sample] = []
        figures: list[float] = []
        timed_s = 0.0
        w = 0
        # whole windows only, so every deck's class counts stay fixed; a
        # traced run alternates traced and untraced windows
        while timed_s < args.seconds or (args.trace and w < 2):
            batch = runner.window(traced=bool(args.trace) and w % 2 == 0)
            samples += batch
            figures.append(sum(s.ms for s in batch))
            timed_s += figures[-1] / 1000.0
            w += 1

        log(f"timed {len(samples)} operations")
        final_errors = wl.final_checks()
        log("final checks done")
        for e in final_errors:
            print(f"[{wl.name}] final check failed: {e}", file=sys.stderr)
        failed = min(len(samples), sum(s.error is not None for s in samples) + len(final_errors))
        info = {
            "workload": wl.name,
            "seed": args.seed,
            "unit": wl.unit,
            "host": host_record(host0, _host_sample()),
            "warmup_window_medians_ms": warm,
            "timed_windows": len(figures),
            "timed_s": timed_s,
            "drift_pct": drift_pct(figures),
            "ops_attempted": len(samples),
            "ops_failed": failed,
            **class_medians(samples),
        }
        if args.trace:
            import layers  # noqa: PLC0415

            table, metrics = layers.per_layer(samples, tracer, info["host"])
            for line in table:
                print(line)
            if args.spans:
                Path(args.spans).write_text(json.dumps(tracer.spans))
        else:
            metrics = end_to_end(samples, setup_s)
        print(json.dumps({"info": info}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(samples),
            "failed": failed,
            "metrics": metrics,
        }), flush=True)
        return 0
    finally:
        try:
            if spark is not None:
                stop_session(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)
            try:
                (ROOT / ".perfbench_tmp").rmdir()
            except OSError:
                pass


if __name__ == "__main__":
    sys.exit(main())
