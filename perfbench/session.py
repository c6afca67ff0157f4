"""Spark session lifecycle and process accounting for the benchmark.

Everything the benchmark writes (parquet inputs, outputs, Spark scratch,
event logs, the JVM's temp files) lives under one work directory inside
the checkout, so a run reads and writes nothing outside it.
"""

import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Well below the 15 GB of the 4-core host, which other tenants share. The
# heap is fixed (-Xms = -Xmx): left to grow, G1 settled on different heap
# sizes from run to run and peak RSS read 1.5 or 2.0 GB for one workload.
DRIVER_MEMORY = "1g"


def cores() -> int:
    """Cores this process may run on: ``nproc``, not the machine's count."""
    return len(os.sched_getaffinity(0))


def prepare_env(work: str) -> None:
    """Environment the JVM and its Python workers inherit; set before launch."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    # heap, not mmap, for clip-sized numpy buffers in the decode workers
    # (the same setting bench.py and run.py make)
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(128 * 1024 * 1024))
    # executors import anzlic_validator_spark from the checkout, whatever
    # the working directory
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    # the JVM spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def build_session(work: str, event_dir: str | None = None, udf_profile: bool = False):
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("anzlic_validator_perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config(
            "spark.driver.extraJavaOptions",
            f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
    )
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_dir)
            .config("spark.eventLog.compress", "false")
        )
    if udf_profile:
        b = b.config("spark.sql.pyspark.udf.profiler", "perf")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark) -> None:
    """One action through an Arrow UDF, a hash and an aggregate: the
    scheduler, codegen and one Python worker per core are up before anything
    is timed as a unit."""
    import pandas as pd
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    n = cores()
    spark.range(0, 20_000 * n, 1, n).select(
        F.xxhash64(plus_one("id").cast("string")).alias("h")
    ).agg(F.max("h")).collect()


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and every worker it forked
    have exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int, kids: dict[int, list[int]] | None = None) -> list[int]:
    kids = _children_map() if kids is None else kids
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _proc_kb(pid: int, name: str, field: str) -> int:
    try:
        with open(f"/proc/{pid}/{name}", encoding="ascii") as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm", encoding="utf-8") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class RssSampler:
    """Peak resident memory of the driver JVM and its Python workers,
    sampled from /proc, and the name of every descendant seen.

    The JVM (this process's child) counts by RSS. Python workers count by
    PSS: they are forked from one daemon, and summed RSS would count their
    shared pages once per worker. Other descendants are left out: a process
    the JVM forks briefly (a shell command of the Hadoop file system) shows
    the JVM's whole RSS until it execs, which doubled some samples.
    """

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_kb = 0
        self.comms: dict[int, str] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kids = _children_map()
            jvm = kids.get(me, [])
            total = sum(_proc_kb(p, "status", "VmRSS:") for p in jvm)
            for p in descendants(me, kids):
                if p not in self.comms:
                    self.comms[p] = _comm(p)
                if p not in jvm and self.comms[p].startswith("python"):
                    total += _proc_kb(p, "smaps_rollup", "Pss:")
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period_s)

    def python_pids(self) -> int:
        """Descendants seen running Python: the worker daemon and the
        workers it forked."""
        return sum(1 for c in self.comms.values() if c.startswith("python"))
