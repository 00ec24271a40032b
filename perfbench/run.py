"""Lake benchmark: closed-loop workloads against the engine, one
operation at a time from a single driver process on ``local[nproc]``.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json): ``reads`` (oracle-checked registry keys
interleaved with txlog snapshot reads: plan building, scans, operators,
log replay and file skipping, no writes) and ``lake_upsert`` (the txlog
commit path).
The run generates its input tables from ``--seed``, starts a session,
builds the workload's fixture, runs one warm-up pass that also checks
outputs, then runs whole timed passes -- at least two -- until
``--seconds`` have passed.
Every operation's output is checked; a failed or mismatched operation
counts against ``ops_ok_ratio``.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics, or with
``--trace 1`` the per-layer metrics. The line before it is a report
with the environment, sample counts and any failures; the same report
and, when traced, the spans are written under ``.bench_out/``. All
scratch files live under ``.bench_run/`` in the checkout and are
removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("reads", "lake_upsert")
#: Scale factor of the generated inputs (sf1 = 6M lineitem rows).
DEFAULT_SF = 0.01
#: The engine's session asks for a 16g driver heap; the inputs here are
#: small and the benchmark shares its machine, so the heap is capped.
DRIVER_MEMORY = "3g"

MIN_PASSES = 2

#: Per-layer counts reported as a mean per operation or a total per
#: traced pass; every other per-layer metric is the median of its samples.
PER_OP = {"spark.jobs", "spark.stages", "spark.tasks"}
PER_PASS = {"txlog.files_added", "txlog.files_removed", "txlog.bytes_written", "cache.released"}


class Context:
    """What a workload needs from the run: the session, the generated
    inputs, a scratch directory and the seed."""

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int, traced: bool):
        self.spark, self.data_dir, self.work_dir, self.seed = spark, data_dir, work_dir, seed
        self.traced = traced  # a traced run may add operations that only it measures


def source_digest() -> str:
    """sha256 over the engine's Python sources (the checkout may not be
    a git repository, so this stands in for the commit)."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, files in os.walk(os.path.join(ROOT, "novlake_spark")):
        paths += [os.path.join(d, f) for f in files if f.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def git_commit() -> str:
    try:
        out = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.SubprocessError):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def environment(spark, args, nproc: int) -> dict:
    conf = spark.sparkContext.getConf()
    return {
        "nproc": nproc,
        "master": spark.sparkContext.master,
        "confs": {k: spark.conf.get(k, None) for k in (
            "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
            "spark.sql.adaptive.coalescePartitions.enabled", "spark.sql.adaptive.skewJoin.enabled",
            "spark.sql.execution.arrow.pyspark.enabled")} | {"spark.driver.memory": conf.get("spark.driver.memory")},
        "pyspark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": args.seed,
        "sf": args.sf,
        "git_commit": git_commit(),
        "source_sha256": source_digest(),
    }


class Reads:
    """Read-only traffic: the analytics keys interleaved with txlog
    snapshot reads, so both share every timing window of a run."""

    def __init__(self, bench, ctx):
        from analytics import Analytics
        from lake import LakeSnapshotReads

        self.analytics, self.lake = Analytics(bench, ctx), LakeSnapshotReads(bench, ctx)

    def warmup(self) -> None:
        self.analytics.warmup()
        self.lake.warmup()

    @property
    def tables(self) -> set[str]:
        return self.analytics.tables | set(self.lake.tables)

    def run_pass(self) -> None:
        a, b = self.analytics.pass_ops(), self.lake.pass_ops()
        for op in [op for pair in zip(a, b) for op in pair] + a[len(b):] + b[len(a):]:
            op()

    def amplification(self) -> tuple[list[float], list[float]]:
        return self.lake.amplification()


def make_workload(name: str, bench, ctx):
    if name == "reads":
        return Reads(bench, ctx)
    from lake import LakeUpsert

    return LakeUpsert(bench, ctx)


def reduce_layer(name: str, values: list[float], bench) -> float:
    if name in PER_OP:
        return sum(values) / len(values)
    if name in PER_PASS:
        return sum(values) / sum(1 for traced, _ in bench.pass_seconds if traced)
    return statistics.median(values)


def run(args, work: str) -> tuple[dict, dict]:
    # __spark_entry__ exports PYTHONPATH so Python workers can import the
    # engine whatever the working directory; it must load before the JVM.
    sys.path.insert(0, ROOT)
    import __spark_entry__  # noqa: F401
    from novlake_spark.session import get_session

    import datagen
    from harness import Bench, peak_rss_mb

    data_dir = os.path.join(work, "data")
    t0 = time.perf_counter()
    datagen.generate(data_dir, args.sf, args.seed)
    phases = {"datagen_s": time.perf_counter() - t0}

    nproc = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()
    spark = get_session("perfbench", master=f"local[{nproc}]", extra={
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    session_start_s = phases["session_start_s"] = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        bench = Bench(spark)
        ctx = Context(spark, data_dir, work, args.seed, bool(args.trace))
        t0 = time.perf_counter()
        workload = make_workload(args.workload, bench, ctx)
        phases["fixture_s"] = time.perf_counter() - t0
        bench.corrupt(args.corrupt.split(",") if args.corrupt else [])
        t0 = time.perf_counter()
        workload.warmup()
        phases["warmup_s"] = time.perf_counter() - t0
        setup_s = time.perf_counter() - T_START

        # whole passes, at least two, until time is up: every run measures
        # the same mix of operations however fast the machine is. A traced
        # run alternates traced and untraced passes to measure the tracing
        # overhead.
        t_run = time.perf_counter()
        passes = 0
        while passes < MIN_PASSES or time.perf_counter() - t_run < args.seconds:
            with bench.timed_pass(traced=bool(args.trace) and passes % 2 == 0):
                workload.run_pass()
            passes += 1

        stats = bench.op_stats()
        write_amp, space_amp = workload.amplification()
        metrics = {
            "setup_s": setup_s,
            "rows_per_s": stats["rows_per_s"],
            "op_ms_p50": stats["op_ms_p50"],
            "op_ms_p90": stats["op_ms_p90"],
            "ops_ok_ratio": stats["ops_ok_ratio"],
            "write_amp": statistics.median(write_amp),
            "space_amp": statistics.median(space_amp),
        }
        samples = {k: stats["samples"] for k in ("op_ms_p50", "op_ms_p90", "rows_per_s")}
        samples |= {"setup_s": 1, "ops_ok_ratio": bench.attempted,
                    "write_amp": len(write_amp), "space_amp": len(space_amp)}
        if args.trace:
            from novlake_spark.sources.tables import load_table

            bench.traced = True
            for table in sorted(workload.tables):
                with bench.layer_span("sources.scan_ms"):
                    load_table(spark, data_dir, table).write.format("noop").mode("overwrite").save()
            bench.record("session.start_s", session_start_s)
            bench.record("mem.peak_rss_mb", peak_rss_mb())
            bench.record("trace.overhead_ratio", bench.overhead_ratio())
            layer = {name: reduce_layer(name, v, bench) for name, v in bench.layer.items()}
            metrics = {name: layer.get(name, 0.0) for name in args.layer_names}
            samples = {name: len(bench.layer.get(name, [])) for name in args.layer_names}
            bench.write_trace(os.path.join(ROOT, ".bench_out", f"trace-{args.workload}-s{args.seed}.json"))
        units = args.units
        report = {
            "workload": args.workload, "passes": passes,
            "setup_phases_s": {k: round(v, 3) for k, v in phases.items()},
            "pass_seconds": [round(s, 4) for _, s in bench.pass_seconds],
            "samples": samples, "failures": bench.failures,
            "op_ms": {k: round(statistics.median(v), 1) for k, v in sorted(bench.layer.items()) if k.startswith("op.")},
            "environment": environment(spark, args, nproc),
        }
        result = {
            "correct": bench.failed == 0,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
        }
        return result, report
    finally:
        spark.stop()


def stop_children() -> None:
    """Stop the Spark JVM this run launched and the Python workers it
    forked, and wait until every one has ended: ``spark.stop()`` leaves
    the JVM running until this process exits, and it would outlive the
    run by a few seconds."""
    from harness import descendants, stop_processes

    others = descendants(os.getpid())
    gateway = sys.modules["pyspark"].SparkContext._gateway if "pyspark" in sys.modules else None
    procs = [gateway.proc] if gateway is not None and getattr(gateway, "proc", None) else []
    if gateway is not None:
        try:
            gateway.close()
        except Exception:  # noqa: BLE001 — the JVM is stopped below either way
            pass
    stop_processes(procs, others)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=DEFAULT_SF, help="input scale factor")
    p.add_argument("--corrupt", default="", help="self-test: corrupt the first result of these operations (comma-separated)")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    args.layer_names = [m["name"] for m in spec["per_layer"]]
    args.units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    work = os.path.join(ROOT, ".bench_run", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    for sub in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the run starts keeps its scratch files inside the checkout too
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    try:
        result, report = run(args, work)
    finally:
        stop_children()
        shutil.rmtree(work, ignore_errors=True)
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump({"result": result, "report": report}, f, indent=1)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
