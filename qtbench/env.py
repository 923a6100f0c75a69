"""The box, the Spark session that fits it, the calibration line and the
resident-memory sampler.

The session sets only what the box decides (cores, driver heap, where
scratch files go) plus ``apply_engine_conf``.  Shuffle partitions, AQE
coalescing, auto-broadcast and the Arrow batch size stay at Spark's or
the engine's defaults, so a later change to an engine default shows up
in the numbers; their effective values are recorded with every run.
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

RECORDED_CONF = [
    "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.autoBroadcastJoinThreshold",
    "spark.sql.execution.arrow.maxRecordsPerBatch",
    "spark.shuffle.sort.bypassMergeThreshold",
    "spark.driver.memory",
    "spark.master",
]


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def box() -> dict:
    nproc = len(os.sched_getaffinity(0))
    mem = mem_total_mb()
    return {
        "nproc": nproc,
        "mem_total_mb": mem,
        "cores": nproc,
        # a sixteenth of the box, at least 1 GiB: the inputs are small, and
        # a heap the runs fill keeps the resident peak steady
        "driver_memory_mb": max(1024, mem // 16),
    }


def launch_env(root: str, work: str) -> None:
    """Put the engine package at `root` on the workers' import path and
    every scratch file of the session inside `work`.  Call before the
    engine package is imported, since its import fills the launch
    defaults."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(":")
                      if p]
    os.environ["PYTHONPATH"] = ":".join(paths)


def start_session(b: dict, work: str, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    from osmquadtree_depreceated_spark.conf import apply_engine_conf

    tmp = os.path.join(work, "tmp")
    conf = (
        SparkSession.builder.master(f"local[{b['cores']}]")
        .appName("qtbench")
        .config("spark.driver.memory", f"{b['driver_memory_mb']}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        conf = (conf.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", event_log_dir)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false"))
    spark = conf.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    apply_engine_conf(spark)
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then close the JVM's stdin and wait for it (and the
    Python workers it forked) to exit, so a run leaves no process behind."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    # the Python workers exit once they see the JVM gone
    deadline = time.monotonic() + 30
    while len(_tree_pids(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


def effective_conf(spark) -> dict:
    out = {}
    sc_conf = spark.sparkContext.getConf()
    for k in RECORDED_CONF:
        v = sc_conf.get(k, None)
        if v is None:
            try:
                v = spark.conf.get(k)
            except Exception:  # unset, no default: record as such
                v = None
        out[k] = v
    out["SPARK_LOCAL_DIRS"] = os.environ.get("SPARK_LOCAL_DIRS")
    return out


def busy_loop_rate(seconds: float = 0.3) -> float:
    """Single-core pure-Python loop iterations per second (thousands)."""
    n = 0
    end = time.perf_counter() + seconds
    while time.perf_counter() < end:
        for _ in range(1000):
            n += 1
    return n / seconds / 1000.0


def zero_work_action_ms(spark, repeats: int = 5) -> float:
    """Median time of a Spark action over an empty range."""
    times = []
    for _ in range(repeats):
        t = time.perf_counter()
        spark.range(0).count()
        times.append((time.perf_counter() - t) * 1000)
    return sorted(times)[len(times) // 2]


def _tree_pids(root: int) -> list:
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages are split between the processes
    that map them, so the sum over the tree does not count a forked
    worker's shared pages twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Samples the resident memory (as PSS) of this process and all its
    descendants (the JVM and the Python workers) and keeps the peak of the
    total and of each role's share."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_kb = 0
        self.peak_by_role: dict = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            roles: dict = {}
            for p in _tree_pids(me):
                role = ("driver" if p == me else
                        "jvm" if _comm(p) == "java" else "python_workers")
                roles[role] = roles.get(role, 0) + _pss_kb(p)
            self.peak_kb = max(self.peak_kb, sum(roles.values()))
            for r, v in roles.items():
                self.peak_by_role[r] = max(self.peak_by_role.get(r, 0), v)
            self._stop.wait(self.interval)
    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
