"""Host pinning, Spark session set-up and process-tree memory sampling."""

from __future__ import annotations

import contextlib
import os
import signal
import subprocess
import threading
import time


def host() -> dict:
    """Cores and memory of this host, and the settings derived from them."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    # an eighth of physical memory for the driver JVM (local mode: the
    # driver is also the only executor); the inputs are tens of MB
    driver_mb = max(1024, mem_kb // 1024 // 8)
    java = subprocess.run(["java", "-version"], capture_output=True, text=True, timeout=60)
    import pyspark

    return {
        "cpus": cpus,
        "mem_total_mb": mem_kb // 1024,
        "driver_mem": f"{driver_mb}m",
        "pyspark": pyspark.__version__,
        "java": (java.stderr.splitlines() or ["?"])[0],
    }


def pin(env: dict, work: str) -> dict:
    """Environment every Spark call in this process sees; returns the
    extra session conf that keeps Spark's files inside ``work``."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(env["cpus"])
    os.environ["KGT_DRIVER_MEM"] = env["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }


def start_session(cpus: int, conf: dict):
    """Session start plus one trivial JVM action and one trivial
    Python-worker action; returns (session, seconds in ``get_spark``)."""
    from kgt.spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cpus=cpus, extra_conf=conf)
    launch = time.perf_counter() - t0
    spark.range(1).count()
    spark.range(1).mapInPandas(lambda it: it, "id long").collect()
    return spark, launch


def set_up(cpus: int, conf: dict, times: int):
    """Start the session ``times`` times, each in a new JVM (the
    previous session and its JVM are shut down first, untimed), as a
    ``spark-submit`` user pays it. Returns (session, seconds per start,
    seconds per start spent in ``get_spark``)."""
    secs, launches = [], []
    spark = None
    for _ in range(times):
        if spark is not None:
            shut_down(spark)
        t0 = time.perf_counter()
        spark, launch = start_session(cpus, conf)
        secs.append(time.perf_counter() - t0)
        launches.append(launch)
    return spark, secs, launches


def _proc_table() -> dict:
    """{pid: (parent pid, RSS kB, state, CPU ticks)} of every process in
    /proc; CPU ticks are user + system, reaped children included."""
    table = {}
    page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        cpu = sum(int(x) for x in fields[11:15])
        table[int(name)] = (int(fields[1]), int(fields[21]) * page_kb, fields[0], cpu)
    return table


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system, reaped children included) of ``root``
    and every live descendant, from /proc."""
    table = _proc_table()
    ticks = sum(table[p][3] for p in [root, *descendants(root, table)] if p in table)
    return ticks / os.sysconf("SC_CLK_TCK")


def descendants(root: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    out = []
    for pid in table:
        p = table[pid][0]
        while p and p != root:
            p = table.get(p, (0,))[0]
        if p == root:
            out.append(pid)
    return out


def _tree_rss_kb(root: int) -> int:
    """RSS of ``root`` and all its descendants, from /proc."""
    table = _proc_table()
    return sum(table[p][1] for p in [root, *descendants(root, table)] if p in table)


class PeakRss:
    """Samples the process tree's RSS every ``interval`` seconds in a
    background thread; ``peak_mb`` is the largest sample."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def shut_down(spark) -> None:
    """Stop the session, then end the JVM and wait for it: the gateway
    JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    started = descendants(os.getpid())
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
    # a later session in this process launches a new JVM
    SparkContext._gateway = None
    SparkContext._jvm = None
    _wait_gone(started)


def _wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every process in ``pids`` has ended (Python workers
    are children of the JVM, not of this process); kill what is left."""
    deadline = time.monotonic() + timeout
    killed = False
    while True:
        table = _proc_table()
        alive = [p for p in pids if p in table and table[p][2] != "Z"]
        if not alive or (killed and time.monotonic() > deadline):
            return
        if not killed and time.monotonic() > deadline:
            for p in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(p, signal.SIGKILL)
            killed, deadline = True, time.monotonic() + 5
        time.sleep(0.05)
