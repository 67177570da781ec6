"""Session, CPU clock, calibration, statistics and host record shared by
the workloads.

Everything the benchmark writes goes under one work directory inside the
checkout: generated inputs, engine outputs, Spark's local and temp dirs,
the JVM temp dir and (traced runs) the event log. Inputs are written with
no fsync; that flush policy is the same for every commit measured.
"""

from __future__ import annotations

import os
import resource
import shutil
import statistics
import time

MASTER = "local[4]"
CORES = 4
# The JVM heap. The engine's 16g default over-commits a 15 GB host once the
# generated inputs, engine outputs and the Python driver are counted.
DRIVER_MEM = "3g"
SETUPS = 3  # set-up repeats per run; setup_s is their median
# Untimed ops after the cold one. CPU per op keeps falling for about three
# ops while the JIT warms (bulk: 19.9, 15.8, 13.0, then 13.0-13.1 CPU-s).
WARMUP_OPS = 3
CALIBRATION_ROWS = 400_000_000  # about 2 CPU-s


def prepare_env(work: str) -> None:
    """Point every temp dir the driver, the JVM and DuckDB use into ``work``
    and fix the driver-memory setting the engine's session builder reads."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    os.environ["XEMA_SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # a fixed set of JIT compiler threads: one that exits would take its
    # CPU time out of CpuClock's subtraction
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                       "-XX:-UseDynamicNumberOfCompilerThreads")


def start_session(work: str, event_log: bool):
    """A local[4] session from the engine's own builder. A traced session
    also writes Spark's event log (plain JSON lines) under ``work``."""
    from xema_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        ev = os.path.join(work, "events")
        os.makedirs(ev, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + ev,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark(app_name="xbench", master=MASTER,
                      shuffle_partitions=CORES, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


class CpuClock:
    """CPU seconds used so far by this driver and every process under it
    (the JVM and its Python workers), less the JVM's JIT compiler threads.

    Time the hypervisor steals from the guest is charged to no process, so
    on a shared host this clock stays steady where wall time does not:
    across ten runs with 2-16% CPU steal, op walls spread by 0.24 of their
    median. JIT compilation is left out because a fresh JVM pays it on a
    curve that is still falling several ops in, which a long-lived driver
    does not see; Spark's own code generation runs on Spark's threads and
    stays in."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self):
        self.tick = os.sysconf("SC_CLK_TCK")

    @staticmethod
    def _stat(path: str) -> tuple[str, int, int]:
        """(comm, ppid, utime + stime + cutime + cstime in ticks)."""
        with open(path) as f:
            head, rest = f.read().rsplit(")", 1)
        fields = rest.split()
        return (head.split("(", 1)[1], int(fields[1]),
                sum(int(x) for x in fields[11:15]))

    def read(self) -> float:
        procs = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    procs[int(name)] = self._stat(f"/proc/{name}/stat")
                except (FileNotFoundError, ProcessLookupError):
                    continue  # exited between the listing and the read
        ticks, frontier = 0, [os.getpid()]
        while frontier:
            pid = frontier.pop()
            comm, _, t = procs.get(pid, ("", 0, 0))
            ticks += t
            if comm == "java":
                ticks -= self._jit_ticks(pid)
            frontier.extend(c for c, p in procs.items() if p[1] == pid)
        return ticks / self.tick

    def _jit_ticks(self, pid: int) -> int:
        total = 0
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                comm, _, t = self._stat(f"/proc/{pid}/task/{tid}/stat")
            except (FileNotFoundError, ProcessLookupError):
                continue
            if comm.startswith(self.JIT_THREADS):
                total += t
        return total


def calibrate(spark, clock: CpuClock) -> float:
    """CPU seconds of one fixed Spark job that uses no engine code: a
    4-partition range hashed and summed. It runs after every op, so a host
    that other guests slow down or free up moves the op and its calibration
    alike; the ratio of the two is what the benchmark gates on."""
    cpu0 = clock.read()
    spark.range(0, CALIBRATION_ROWS, 1, CORES) \
        .selectExpr("sum(xxhash64(id, id * 7)) AS s").collect()
    return clock.read() - cpu0


def peak_rss_mb(pid: int | None = None) -> float:
    """Peak resident set size (VmHWM) of ``pid``, or of this process."""
    if pid is None:
        return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def shutdown(spark) -> None:
    """Stop the session and wait until the JVM it ran in has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_times() -> list[int]:
    """The aggregate CPU line of /proc/stat (user ... steal, in ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_record(spark, load_start: tuple, cpu_start: list[int]) -> dict:
    import pyarrow

    jvm = spark.sparkContext._jvm
    delta = [b - a for a, b in zip(cpu_start, cpu_times())]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": MASTER,
        "spark": spark.version,
        "jvm": str(jvm.java.lang.System.getProperty("java.version")),
        "pyarrow": pyarrow.__version__,
        "driver_memory": DRIVER_MEM,
        "load_avg_start": [round(x, 2) for x in load_start],
        "load_avg_end": [round(x, 2) for x in os.getloadavg()],
        # CPU time the hypervisor gave to other guests while this run ran
        "steal_frac": round(delta[7] / max(1, sum(delta)), 4),
        "flush": "inputs and outputs under the checkout, no fsync",
    }


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, n). None exists below eleven samples; the value is
    then the maximum and the percentile is reported as 100."""
    n = len(xs)
    s = sorted(xs)
    if n < 11:
        return (s[-1] if s else 0.0), 100.0, n
    return s[n - 11], 100.0 * (n - 10) / n, n


def dir_stats(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping hidden/marker files."""
    files = size = 0
    for root, _, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")) or name.endswith(".json"):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, name))
    return files, size


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
