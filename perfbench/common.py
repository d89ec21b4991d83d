"""Shared run plumbing: scratch root, Spark session lifecycle, memory,
host calibration, streaming-progress digestion and small statistics."""

from __future__ import annotations

import os
import shutil
import signal
import time

# -- scratch root -------------------------------------------------------------


def make_scratch_root(base: str) -> str:
    """An empty per-run directory under ``base``. Every file the run makes
    (lake, checkpoints, spool, warehouse dir, temp dirs, Spark local dirs)
    lives below it, and it is removed at exit."""
    root = os.path.join(base, f"run-{os.getpid()}")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(os.path.join(root, "tmp"))
    os.makedirs(os.path.join(root, "spark-local"))
    return root


def point_temp_dirs_at(root: str) -> None:
    """Send every temp file of this process and its JVM under ``root``.
    Must run before pyspark starts the gateway."""
    import tempfile

    tmp = os.path.join(root, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, "spark-local")
    # spark-warehouse/pid-* is created under the working directory
    os.chdir(root)


# -- Spark session ------------------------------------------------------------


def start_session(root: str):
    """``local[nproc]`` with shuffle partitions = nproc, through the
    package's own session factory."""
    ncpu = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    os.environ.pop("SPARK_GRAFT_WAREHOUSE", None)  # keep the warehouse dir under the scratch root
    os.environ.pop("SPARK_GRAFT_TABLE_FORMAT", None)  # measure the default backend
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"  # a small heap keeps peak_rss_mb steady
    tmp = os.path.join(root, "tmp")
    from flink_realtime_data_warehouse_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(root, "spark-local"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        if ppid == pid:
            out.append(int(entry))
    return out


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, then make sure the JVM and its Python workers have
    exited before returning."""
    from pyspark import SparkContext

    procs = _descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure: kill and reap
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 15
        while any(_alive(p) for p in procs) and time.monotonic() < deadline:
            time.sleep(0.1)
        for p in procs:
            if _alive(p):
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for p in procs:  # reap what we can; grandchildren are reaped by init
            try:
                os.waitpid(p, os.WNOHANG)
            except ChildProcessError:
                pass


# -- memory --------------------------------------------------------------------


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this Python process plus its JVM child."""
    from pyspark import SparkContext

    total = _hwm_kb(os.getpid())
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        total += _hwm_kb(proc.pid)
    return total / 1024.0


# -- host calibration (the fixed workloads of bench.py) -------------------------


def calib_cpu_s() -> float:
    """8 float32 1024x1024 matmuls plus a 5M-iteration Python loop."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.standard_normal((1024, 1024), dtype=np.float32)
    b = rng.standard_normal((1024, 1024), dtype=np.float32)
    t0 = time.perf_counter()
    for _ in range(8):
        a @ b
    s = 0
    for i in range(5_000_000):
        s += i & 1023
    return time.perf_counter() - t0


def calib_shuffle_s(spark) -> float:
    """An in-memory range of 100M rows through one shuffle aggregate."""
    t0 = time.perf_counter()
    (
        spark.range(0, 100_000_000)
        .selectExpr("id % 1024 AS k", "id")
        .groupBy("k")
        .sum("id")
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def tree_size(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``; metadata and hidden files excluded."""
    files = size = 0
    for dirpath, dirs, names in os.walk(path):
        dirs[:] = [d for d in dirs if d != "_spark_metadata" and not d.startswith(".")]
        for n in names:
            if n.startswith((".", "_")) or n.endswith(".crc"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# -- streaming progress ----------------------------------------------------------


class ProgressTotals:
    """Sums the public ``recentProgress`` of finished queries per topology."""

    def __init__(self) -> None:
        self.by_topology: dict[str, dict[str, float]] = {}
        self.engine = {"planning_ms": 0.0, "commit_ms": 0.0, "latest_offset_ms": 0.0}
        self.state_commit_ms = 0.0
        #: state size is a level, not a flow: the latest reading per topology
        self.state_levels: dict[str, tuple[int, int]] = {}
        self.input_rows: dict[str, int] = {}

    def add(self, topology: str, query, wall_s: float) -> None:
        t = self.by_topology.setdefault(
            topology, {"add_batch_ms": 0.0, "trigger_ms": 0.0, "outside_trigger_ms": 0.0}
        )
        trig = 0.0
        for p in query.recentProgress:
            d = p.durationMs or {}
            t["add_batch_ms"] += d.get("addBatch", 0)
            trig += d.get("triggerExecution", 0)
            self.engine["planning_ms"] += d.get("queryPlanning", 0)
            self.engine["commit_ms"] += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            self.engine["latest_offset_ms"] += d.get("latestOffset", 0)
            self.input_rows[topology] = self.input_rows.get(topology, 0) + (p.numInputRows or 0)
            ops = p.stateOperators or []
            self.state_commit_ms += sum(op.commitTimeMs or 0 for op in ops)
            if ops:
                self.state_levels[topology] = (
                    sum(op.numRowsTotal or 0 for op in ops),
                    sum(op.memoryUsedBytes or 0 for op in ops),
                )
        t["trigger_ms"] += trig
        t["outside_trigger_ms"] += wall_s * 1000.0 - trig

    def metrics(self, n_ops: int) -> dict[str, float]:
        """``jobs.*`` and ``state.*`` metrics; flows per op, state as levels."""
        m = {f"jobs.{topo}.{k}": v / n_ops for topo, vals in self.by_topology.items() for k, v in vals.items()}
        m.update({f"jobs.{k}": v / n_ops for k, v in self.engine.items()})
        m["state.commit_ms"] = self.state_commit_ms / n_ops
        m["state.rows_total"] = sum(r for r, _m in self.state_levels.values())
        m["state.memory_bytes"] = sum(b for _r, b in self.state_levels.values())
        return m


# -- statistics ---------------------------------------------------------------------


def median(xs) -> float:
    return quantile(xs, 0.5)


def quantile(xs, q: float) -> float:
    """Inclusive-method quantile, ``q`` in (0, 1)."""
    xs = sorted(xs)
    if not xs:
        return 0.0
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))
