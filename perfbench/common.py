"""Shared plumbing of the benchmark: process environment, Spark session,
seeded inputs, repeated set-up, the closed-loop driver and statistics.

Everything the benchmark writes goes under ``<checkout>/.perfbench_work``:
the cached source parquet (keyed by seed and size), Spark scratch space,
temporary files and one fresh index directory per run.
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# fixed driver heap, so peak RSS compares across machines of any size
DRIVER_MEM = "2g"


def prepare_environment() -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    work directory and put the repository on the workers' import path.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # Spark's Python workers import blacklab_spark by name
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_spark():
    """``local[nproc]`` session with the engine's own settings; only
    console noise is turned down and the status store keeps every job
    of a run, so the traced run can read them back."""
    from blacklab_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cpus=cpu_count(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM, which exits once its stdin closes."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def source_parquet(n_turns: int, seed: int, start_conv: int = 0) -> str:
    """Synthetic transcripts (``blacklab_spark.synth``) as parquet,
    cached across runs by (seed, size, start_conv)."""
    from blacklab_spark.synth import generate_pandas

    path = os.path.join(WORK, "src", f"s{seed}_n{n_turns}_c{start_conv}.parquet")
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        part = f"{path}.{os.getpid()}.part"
        generate_pandas(n_turns, seed=seed, start_conv=start_conv).to_parquet(
            part, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.replace(part, path)
    return path


def text_bytes(parquet_path: str) -> int:
    import pyarrow.parquet as pq

    col = pq.read_table(parquet_path, columns=["text"]).column("text")
    return sum(len(t.encode()) for t in col.to_pylist())


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


class RunDir:
    """Fresh per-run directory for index builds; removed on exit."""

    def __init__(self) -> None:
        self.path = os.path.join(WORK, "runs", f"{os.getpid()}_{time.time_ns()}")
        os.makedirs(self.path)

    def index_dir(self, name: str) -> str:
        d = os.path.join(self.path, name)
        shutil.rmtree(d, ignore_errors=True)
        return d

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def peak_rss_mb(spark) -> float:
    """Peak resident set (VmHWM) of the driver JVM plus this Python
    process, in MiB."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    try:
        pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
    except (OSError, ValueError):
        pass
    return (py_kb + jvm_kb) / 1024.0


# ---- set-up and warm-up ----------------------------------------------------

SETUP_REPS = 3


def repeated_setup(build_once, reps: int = SETUP_REPS):
    """Run ``build_once(rep) -> (handle, build_s)`` ``reps`` times, each
    into a fresh index directory. The first repetition also pays the
    process's JIT and code generation. Returns (last handle, setup
    times, build times); the median of each is reported."""
    setups, builds, handle = [], [], None
    for rep in range(reps):
        t0 = time.perf_counter()
        handle, build_s = build_once(rep)
        setups.append(time.perf_counter() - t0)
        builds.append(build_s)
    return handle, setups, builds


def setup_metrics(setups, builds, n_turns: int, index_dir: str, src: str) -> dict:
    log(f"setup reps (s): {[round(x, 3) for x in setups]}  "
        f"builds (s): {[round(x, 3) for x in builds]}")
    return {
        "setup_s": median(setups),
        "build_turns_per_s": n_turns / median(builds),
        "index_bytes_per_text_byte": dir_bytes(index_dir) / text_bytes(src),
    }


# ---- closed loop -----------------------------------------------------------


@dataclass
class OpRecord:
    kind: str
    start: float
    end: float
    ok: bool
    error: str | None = None
    result: object = None
    request: object = None

    @property
    def latency(self) -> float:
        return self.end - self.start


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of the machine so far, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


@dataclass
class Window:
    records: list[OpRecord] = field(default_factory=list)
    t0: float = 0.0
    t1: float = 0.0
    # share of the machine's CPU time taken by other tenants (steal)
    steal: float = 0.0

    @property
    def elapsed(self) -> float:
        return self.t1 - self.t0

    @property
    def attempted(self) -> int:
        return len(self.records)

    @property
    def failed(self) -> int:
        return sum(not r.ok for r in self.records)

    def latencies(self) -> list[float]:
        return [r.latency for r in self.records if r.ok]

    def metrics(self) -> dict:
        lat = self.latencies()
        return {"ops_per_s": len(lat) / self.elapsed, "latency_p50_s": median(lat)}


class Shared:
    """An iterator several client threads draw from in turn."""

    def __init__(self, it):
        self._it = iter(it)
        self._lock = threading.Lock()

    def __iter__(self):
        return self

    def __next__(self):
        with self._lock:
            return next(self._it)


def closed_loop(streams, do_op, seconds: float) -> Window:
    """Closed loop: each client (one per stream) sends its next request
    only after the previous one completed, until ``seconds`` have passed
    since the start; an operation in flight at the deadline completes
    and counts. ``do_op(request, client) -> (kind, result)``; an
    exception marks the operation failed and it is not retried."""
    win = Window()
    lock = threading.Lock()

    def client(idx: int, stream) -> None:
        deadline = win.t0 + seconds
        for req in stream:
            if time.perf_counter() >= deadline:
                break
            t = time.perf_counter()
            try:
                kind, result = do_op(req, idx)
                rec = OpRecord(kind, t, time.perf_counter(), True, result=result, request=req)
            except Exception as e:  # a failed operation is counted, not raised
                kind = req[0] if isinstance(req, tuple) else "op"
                rec = OpRecord(kind, t, time.perf_counter(), False,
                               error=f"{type(e).__name__}: {e}", request=req)
            with lock:
                win.records.append(rec)

    threads = [threading.Thread(target=client, args=(i, s), name=f"client-{i}")
               for i, s in enumerate(streams)]
    steal0, total0 = _cpu_jiffies()
    win.t0 = time.perf_counter()
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    win.t1 = time.perf_counter()
    steal1, total1 = _cpu_jiffies()
    win.steal = (steal1 - steal0) / max(1, total1 - total0)
    win.records.sort(key=lambda r: r.start)
    return win


# ---- statistics ------------------------------------------------------------


def median(values) -> float:
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def tail(values, min_beyond: int = 10) -> tuple[float, float, int]:
    """(value, percentile, samples beyond it) of the highest percentile
    that still has ``min_beyond`` samples above it; (0, 0, n) when that
    percentile would not be above the median."""
    xs = sorted(values)
    n = len(xs)
    if n < 2 * min_beyond + 1:
        return 0.0, 0.0, n
    idx = n - min_beyond - 1
    return float(xs[idx]), 100.0 * (idx + 1) / n, n - idx - 1


def emit(result: dict) -> None:
    """The result object is the last line of standard output."""
    sys.stdout.flush()
    print(json.dumps(result, sort_keys=True), flush=True)


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[{time.perf_counter() - _T0:6.1f}s] {msg}", flush=True)
