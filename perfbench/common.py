"""Session, hygiene, memory, job-count and oracle-cache helpers shared
by the benchmark workloads."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

REQUIRED_FILES = (
    "webcrawler_spark/__init__.py",
    "__spark_entry__.py",
    "bench.py",
    "scripts/check_oracles.py",
)


def machine() -> dict:
    """nproc (CPUs this process may run on) and MemTotal in MB."""
    nproc = len(os.sched_getaffinity(0))
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {"nproc": nproc, "mem_total_mb": mem_kb // 1024}


class Workdir:
    """Per-run scratch tree inside the checkout: Spark local dirs, the
    JVM and Python temp dirs (crawl catalogs land there) and generated
    corpora. Removed whole by :meth:`close`. The oracle cache next to it
    survives runs."""

    def __init__(self, root: str, workload: str):
        base = os.path.join(root, ".perfbench_work")
        self.path = os.path.join(base, f"{workload}-{os.getpid()}")
        self.cache = os.path.join(base, "oracle-cache")
        self.tmp = os.path.join(self.path, "tmp")
        self.spark_local = os.path.join(self.path, "spark-local")
        for d in (self.tmp, self.spark_local, self.cache):
            os.makedirs(d, exist_ok=True)

    def sub(self, name: str) -> str:
        d = os.path.join(self.path, name)
        os.makedirs(d, exist_ok=True)
        return d

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_session(root: str, work: Workdir, mach: dict):
    """local[nproc] session; shuffle partitions = nproc; driver memory a
    quarter of MemTotal (1-8 GB). Python workers get the checkout on
    their path, and every temp/local dir points into ``work``."""
    from pyspark.sql import SparkSession

    from webcrawler_spark.session import apply_perf_conf

    n = mach["nproc"]
    mem_mb = max(1024, min(8192, mach["mem_total_mb"] // 4))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = work.tmp
    # every JVM, the spark-submit launcher too: temp files in the work
    # dir and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS", ""),
                    f"-XX:-UsePerfData -Djava.io.tmpdir={work.tmp}") if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = work.spark_local
    tempfile.tempdir = work.tmp
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{mem_mb}m")
        .config("spark.local.dir", work.spark_local)
        .config("spark.sql.warehouse.dir", os.path.join(work.path, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    spark = apply_perf_conf(builder).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, mem_mb


def _stat(pid: int):
    """(ppid, state, start time) of ``pid`` from /proc, None once gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    return int(fields[1]), fields[0], fields[19]


def descendants(pid: int) -> dict[int, str]:
    """Every live process below ``pid``, as pid -> start time (the
    start time tells a pid reused later apart)."""
    children = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(st[0], []).append((int(name), st[2]))
    found, todo = {}, [pid]
    while todo:
        for child, start in children.get(todo.pop(), ()):
            if child not in found:
                found[child] = start
                todo.append(child)
    return found


def _alive(procs: dict[int, str]) -> dict[int, str]:
    out = {}
    for pid, start in procs.items():
        st = _stat(pid)
        if st is not None and st[2] == start and st[1] != "Z":
            out[pid] = start
    return out


def _wait_gone(procs: dict[int, str], timeout: float) -> dict[int, str]:
    deadline = time.monotonic() + timeout
    while procs and time.monotonic() < deadline:
        time.sleep(0.05)
        procs = _alive(procs)
    return procs


def stop_session(spark) -> None:
    """Stop Spark and end every process the session started: the
    gateway JVM (told to exit by closing its stdin, as when this process
    exits, but waited for here) and the Python workers under it. Returns
    once none of them is left; stragglers are killed."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())
    try:
        if spark is not None:
            spark.stop()
    except Exception as exc:  # e.g. a gateway left mid-call by a signal
        log(f"spark.stop() failed: {exc!r}")
    finally:
        jvm = getattr(SparkContext._gateway, "proc", None)
        if jvm is not None:
            if jvm.stdin is not None:
                jvm.stdin.close()
            try:
                jvm.wait(timeout=30)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
            SparkContext._gateway = SparkContext._jvm = None
        procs.update(descendants(os.getpid()))
        left = _wait_gone(_alive(procs), 20)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        left = _wait_gone(left, 10)
        if left:
            log(f"processes still running after stop: {sorted(left)}")


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident memory (VmHWM) of the driver JVM plus this Python
    driver, in MB."""
    jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def last_job_id(spark) -> int:
    """Highest Spark job id submitted so far (-1 before the first),
    read after the listener bus has drained so the status store is
    current."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    jobs = jsc.statusStore().jobsList(None)
    return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)


def isolate(spark) -> None:
    """bench.py's per-query isolation (GC, clear cache, unpersist
    leftover checkpoint blocks), run outside every timer."""
    import bench

    bench._isolate(spark)


def median(xs) -> float:
    return float(statistics.median(xs))


def provenance(spark, mach: dict, mem_mb: int, seed: int) -> dict:
    import duckdb

    return {
        **mach,
        "driver_memory_mb": mem_mb,
        "master": spark.sparkContext.master,
        "spark": spark.version,
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "seed": seed,
    }


def source_digest(root: str) -> str:
    """sha256 over the program's Python sources (package, entry module,
    oracle canonicalisation) — part of every oracle-cache key, so a
    cached answer is only reused by the code that produced it."""
    h = hashlib.sha256()
    files = ["__spark_entry__.py", "scripts/check_oracles.py"]
    for dirpath, dirnames, filenames in os.walk(os.path.join(root, "webcrawler_spark")):
        dirnames.sort()
        files += [
            os.path.relpath(os.path.join(dirpath, f), root)
            for f in sorted(filenames)
            if f.endswith(".py")
        ]
    for rel in files:
        h.update(rel.encode())
        with open(os.path.join(root, rel), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def file_digest(*paths: str) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


class OracleCache:
    """One JSON answer per key under the checkout's cache dir, so an
    oracle is computed once per (workload, seed, inputs, code)."""

    def __init__(self, work: Workdir, workload: str, key_parts: list[str]):
        key = hashlib.sha256("\0".join(key_parts).encode()).hexdigest()[:32]
        self.path = os.path.join(work.cache, f"{workload}-{key}.json")

    def load(self):
        try:
            with open(self.path) as fh:
                return json.load(fh)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def store(self, answer) -> None:
        tmp = f"{self.path}.{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(answer, fh)
        os.replace(tmp, self.path)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)
