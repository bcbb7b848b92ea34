"""Measurement plumbing shared by every workload: host pinning, the
Spark session, span tracing, Spark job counting, process-tree RSS
sampling and the tail-percentile rule.

Nothing here starts a thread or touches the file system at import time.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

MB = 1024 * 1024


# --------------------------------------------------------------------- #
# host
# --------------------------------------------------------------------- #
def nproc() -> int:
    return len(os.sched_getaffinity(0))


def physical_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def driver_mem() -> str:
    """JVM heap for the driver: a quarter of physical RAM, at most
    1.5 GiB (the package default of 24g exceeds small hosts)."""
    return f"{max(512, min(1536, physical_ram_bytes() // MB // 4))}m"


def pin_host(work: str) -> dict:
    """Pin cores, driver heap and every temporary directory (Spark local
    dirs, JVM and Python temp files) under ``work``; return the pinned
    settings for the report."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cores = spark_cores()
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": driver_mem(),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(env)
    return {"nproc": nproc(), "ram_mb": physical_ram_bytes() // MB, **env}


def spark_cores() -> int:
    """Task slots: one core fewer than the host has, left to the Python
    driver, the Python workers and the memory sampler. At ``local[nproc]``
    they contend with the task threads and the medians of five seeds
    spread 0.16-0.20 of their value; at ``local[nproc - 1]``, 0.04."""
    return max(1, nproc() - 1)


def start_spark(work: str):
    """The engine's session at ``local[nproc - 1]`` with every write kept
    under ``work`` and the console progress bar off."""
    from getml_community_spark.session import get_spark

    cores = spark_cores()
    tmp = os.path.join(work, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        cores=cores,
        # one task per slot: a partition count above the slot count
        # leaves a second wave of one task, a straggler in every stage
        shuffle_partitions=cores,
        extra_conf={
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "false",
            # the heap is sized and touched up front, so the process-tree
            # RSS does not depend on when the collector grows the heap
            "spark.driver.extraJavaOptions": (
                "-Djava.net.preferIPv4Stack=true "
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM gateway process and wait for
    it (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is None:
        return
    try:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — fall back to a hard stop
        proc.kill()
        proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


# --------------------------------------------------------------------- #
# statistics
# --------------------------------------------------------------------- #
def median(xs) -> float:
    return float(statistics.median(xs))


def tail(xs) -> tuple[float | None, float | None, int]:
    """(value, percentile, samples) of the highest percentile that still
    has at least ten samples beyond it; with ten samples or fewer there
    is none, and value and percentile are None."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return None, None, n
    k = n - 11  # index of the order statistic with 10 samples above it
    return float(s[k]), round(100.0 * (k + 1) / n, 1), n


# --------------------------------------------------------------------- #
# tracing
# --------------------------------------------------------------------- #
class Tracer:
    """In-memory spans (name, start, end, parent) recorded around calls
    into the package's public functions; written out at exit.

    A disabled tracer yields ``None`` from :meth:`span` and records
    nothing, so timed code can be traced or not without branching."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_time(self, rec: dict) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted(
            (c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"]
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (rec["end"] - rec["start"]) - covered

    def total(self, name: str, self_only: bool = False) -> float:
        return sum(
            self.self_time(r) if self_only else r["end"] - r["start"]
            for r in self.spans
            if r["name"] == name
        )

    def attr_sum(self, name: str, key: str) -> float:
        return sum(r.get(key, 0) for r in self.spans if r["name"] == name)

    @contextmanager
    def patched(self, owner, attr: str, name: str, after=None):
        """Wrap ``owner.attr`` so each call records a span ``name``;
        ``after(rec, args, result)`` may add counts to it. It runs after
        the span closes, inside a ``trace.measure`` span of its own, so
        neither the layer nor its caller's self time absorbs it."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name) as rec:
                out = orig(*args, **kwargs)
            if after is not None and rec is not None:
                with tracer.span("trace.measure"):
                    after(rec, args, out)
            return out

        setattr(owner, attr, wrapper)
        try:
            yield
        finally:
            setattr(owner, attr, orig)

    def summary(self) -> dict:
        """Per span name: call count, total and self seconds."""
        out: dict = {}
        for r in self.spans:
            row = out.setdefault(r["name"], {"n": 0, "total_s": 0.0, "self_s": 0.0})
            row["n"] += 1
            row["total_s"] += r["end"] - r["start"]
            row["self_s"] += self.self_time(r)
        return out

    def records(self) -> list[dict]:
        return [dict(r, self=self.self_time(r)) for r in self.spans]


class JobCounter:
    """Spark jobs started by a block of driver code, counted through a
    job group and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0

    @contextmanager
    def group(self):
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        box = {"jobs": 0}
        try:
            yield box
        finally:
            box["jobs"] = len(self.sc.statusTracker().getJobIdsForGroup(gid))
            self.sc.setJobGroup("perfbench-idle", "idle")


# --------------------------------------------------------------------- #
# process-tree memory
# --------------------------------------------------------------------- #
def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(x) for x in f.read().split()]
    except OSError:
        pass
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: the pages the forked Python workers share
    with their daemon count once across the tree, where summed RSS would
    count them once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _exe(pid: int) -> str:
    try:
        return os.path.basename(os.readlink(f"/proc/{pid}/exe"))
    except OSError:
        return ""


def tree_mb(root: int) -> float:
    """Summed PSS of ``root`` and its descendants. A child of the JVM
    that still runs the JVM's executable is a vfork copy that has not
    exec'd yet (Hadoop's local file system shells out on writes): it
    shares the JVM's address space, so it adds nothing."""
    seen, stack, kb = set(), [(root, "")], 0
    while stack:
        pid, parent_exe = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        exe = _exe(pid)
        if not exe == parent_exe == "java":
            kb += _pss_kb(pid)
        stack += [(c, exe) for c in _children(pid)]
    return kb / 1024.0


class MemSampler:
    """Peak resident memory (summed PSS) of this process and all its
    descendants (the JVM and the Python workers it forks), sampled from
    /proc."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_mb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False


# --------------------------------------------------------------------- #
# file system
# --------------------------------------------------------------------- #
def dir_bytes_files(path: str) -> tuple[int, int]:
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.startswith(".") or f.endswith(".crc") or f == "_SUCCESS":
                continue
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
