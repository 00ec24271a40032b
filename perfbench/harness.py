"""Measurement plumbing shared by the workloads: operation samples,
output checks, spans, Spark job-group counts and the summary statistics.

A workload calls :meth:`Bench.op` for every operation. In a timed pass
the call is timed; its output is checked afterwards, outside the timer,
with :meth:`Bench.check`. With tracing on, :meth:`Bench.span` records
``(name, start, end, parent, op id)`` spans around calls into the
engine's layers and the job/stage/task counts of each operation's Spark
job group; spans stay in memory until :meth:`Bench.write_trace`.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager


class Bench:
    def __init__(self, spark, traced: bool = False):
        self.spark = spark
        self.traced = traced
        self.timing = False  # True inside a timed pass
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.samples: list[tuple[str, float, int]] = []  # (op, seconds, rows)
        self.pass_seconds: list[tuple[bool, float]] = []  # (traced, seconds)
        self.layer: dict[str, list[float]] = {}  # per-layer samples
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op_id = 0
        self._corrupt: set[str] = set()

    # -- operations --------------------------------------------------------
    def op(self, name: str, fn, rows=0, layer: str | None = None):
        """Run one operation; returns its result, or ``None`` when it
        raised (counted as failed). ``rows`` is an int or a callable
        over the result giving the input rows it processed; ``layer``
        names the per-layer metric the call ``fn`` itself samples."""
        self.attempted += 1
        self._op_id += 1
        group = f"perfbench-{self._op_id}"
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, name)
        failed = False
        t0 = time.perf_counter()
        try:
            with self.span(f"op.{name}"):
                if layer:
                    with self.layer_span(layer):
                        out = fn()
                else:
                    out = fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is a data point
            self._fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")
            failed = True
        finally:
            if self.traced:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        dt = time.perf_counter() - t0
        from novlake_spark.cache import release_tracked

        released = release_tracked()  # each operation starts with a clean cache
        if failed:
            return None
        if self.timing:
            n = rows(out) if callable(rows) else rows
            self.samples.append((name, dt, int(n)))
            self.record(f"op.{name}.ms", dt * 1000)
            if self.traced:
                self.record("cache.released", released)
                self._count_jobs(group)
        return out

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Record an output check of operation ``name``; a mismatch
        counts the operation as failed."""
        if not ok:
            self._fail(name, f"output mismatch: {detail}")
        return ok

    def corrupt(self, names: list[str]) -> None:
        """Self-test hook: the next observed result of each named
        operation is altered before it is checked, so the check must
        catch it."""
        self._corrupt = set(names)

    def tamper(self, name: str, value):
        """Pass an observed result through the :meth:`corrupt` hook."""
        if name not in self._corrupt:
            return value
        self._corrupt.discard(name)
        if hasattr(value, "iloc"):  # a pandas frame: drop its last row
            return value.iloc[:-1]
        if isinstance(value, dict):
            return {k: v + 1 for k, v in value.items()}
        if isinstance(value, tuple):
            return (value[0] + 1, *value[1:])
        return value + 1

    def _fail(self, name: str, why: str) -> None:
        self.failed += 1
        self.failures.append(f"{name}: {why}")

    # -- passes --------------------------------------------------------------
    @contextmanager
    def timed_pass(self, traced: bool):
        was = self.traced
        self.traced, self.timing = traced, True
        t0 = time.perf_counter()
        try:
            with self.span("pass"):
                yield
        finally:
            self.pass_seconds.append((traced, time.perf_counter() - t0))
            self.traced, self.timing = was, False

    # -- tracing -------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.traced:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "op": self._op_id,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    @contextmanager
    def layer_span(self, metric: str):
        """Span around one call into a layer; its duration is also a
        sample of per-layer metric ``metric`` (milliseconds)."""
        t0 = time.perf_counter()
        with self.span(metric):
            yield
        if self.traced:
            self.record(metric, (time.perf_counter() - t0) * 1000)

    def record(self, metric: str, value: float) -> None:
        self.layer.setdefault(metric, []).append(float(value))

    def _count_jobs(self, group: str) -> None:
        st = self.spark.sparkContext.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                stages += 1
                sinfo = st.getStageInfo(sid)
                tasks += sinfo.numTasks if sinfo else 0
        self.record("spark.jobs", len(jobs))
        self.record("spark.stages", stages)
        self.record("spark.tasks", tasks)

    def self_times(self) -> dict[str, float]:
        """Total self time (span minus its children) per span name, ms."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                own = s["end"] - s["start"] - child.get(i, 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own * 1000
        return out

    def write_trace(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_ms": self.self_times()}, f)

    # -- summaries -----------------------------------------------------------
    def op_stats(self) -> dict[str, float]:
        times = [dt * 1000 for _, dt, _ in self.samples]
        busy = sum(dt for _, dt, _ in self.samples)
        rows = sum(n for _, _, n in self.samples)
        return {
            "op_ms_p50": statistics.median(times),
            "op_ms_p90": statistics.quantiles(times, n=10, method="inclusive")[8],
            "rows_per_s": rows / busy,
            "ops_ok_ratio": 1.0 - self.failed / self.attempted,
            "samples": len(times),
        }

    def overhead_ratio(self) -> float:
        on = [s for t, s in self.pass_seconds if t]
        off = [s for t, s in self.pass_seconds if not t]
        return statistics.median(on) / statistics.median(off)


def tree_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def descendants(pid: int) -> list[int]:
    """Live descendants of ``pid``. A child is listed under the thread
    that forked it, and the JVM forks its Python workers from other
    threads than its main one, so every thread is asked."""
    out, todo = [], [pid]
    while todo:
        parent = todo.pop()
        try:
            tids = os.listdir(f"/proc/{parent}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{parent}/task/{tid}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                continue
            out += kids
            todo += kids
    return out


def _start_time(pid: int) -> str | None:
    """Start time of a running ``pid``; None once it has ended (or is a
    zombie), so a reused pid is not mistaken for the original."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] in "ZX" else fields[19]


def stop_processes(procs: list, others: list[int], grace_s: float = 20.0) -> None:
    """Stop every process a run started and wait until each has ended.
    ``procs`` are this process's own children (``subprocess.Popen``):
    their stdin is closed first, which the Spark JVM takes as the signal
    to exit. ``others`` are further descendants (the JVM's Python
    workers), which end with the JVM; any still alive after ``grace_s``
    get SIGTERM, then SIGKILL."""
    import signal

    for proc in procs:
        try:
            if proc.stdin:
                proc.stdin.close()
        except OSError:
            pass
    for proc in procs:
        try:
            proc.wait(timeout=grace_s)
        except Exception:  # noqa: BLE001 — fall through to terminate
            proc.terminate()
            try:
                proc.wait(timeout=10)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
    alive = {pid: t for pid in others if (t := _start_time(pid)) is not None}
    for sig, wait_s in ((None, grace_s), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        if sig is not None:
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except OSError:
                    pass
        deadline = time.perf_counter() + wait_s
        while alive and time.perf_counter() < deadline:
            alive = {pid: t for pid, t in alive.items() if _start_time(pid) == t}
            if alive:
                time.sleep(0.05)
        if not alive:
            return


def peak_rss_mb() -> float:
    """Sum of peak RSS (VmHWM) over this process and its live
    descendants (the JVM and its Python workers)."""
    total = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024
