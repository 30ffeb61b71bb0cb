"""Host side of a benchmark run: the Spark session with the benchmark's host
settings, and the process and machine counters the workloads read."""

from __future__ import annotations

import os
import resource
import subprocess


def _machine_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def prepare_environment(root: str, work: str) -> None:
    """Host hygiene, set only for this process and the ones it starts.

    - PYTHONPATH carries the checkout root, so Python UDF workers (spawned
      by the JVM, not forked from this interpreter) import the package; a
      ``sys.path`` insert here would not reach them.
    - Spark's local dir and every temp dir live under this run's fresh work
      directory inside the checkout; the JVMs keep no perf-data file in
      /tmp (-XX:-UsePerfData).
    - The driver heap is fixed (-Xms = -Xmx) at a quarter of machine RAM,
      at most 3.5 GiB: the package default (24g) is more than some hosts
      have, and a heap the JVM resizes as it goes makes both run time and
      RSS differ from run to run. 3.5 GiB keeps the package's default
      broadcast-join plans (it turns them off below 3 GiB).
    """
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = f"{_heap_mb()}m"
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"


def _heap_mb() -> int:
    return min(3584, _machine_ram_bytes() // 4 // (1 << 20))


def start_spark(cores: int, work: str):
    from sbustreamspot_core_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench", cpus=cores, shuffle_partitions=cores,
        extra_conf={
            "spark.driver.extraJavaOptions":
                f"-Xms{_heap_mb()}m -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        })


def stop_spark(spark) -> None:
    """Stop the context, then end the gateway JVM and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes; kill if it does not
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def peak_rss_mb(spark) -> float:
    """Driver JVM high-water RSS (VmHWM) plus this interpreter's peak RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return (jvm_kb + py_kb) / 1024.0


def process_tree_cpu_s(spark) -> float:
    """CPU seconds used so far by this interpreter, the driver JVM and every
    process below the JVM (the Python UDF workers)."""
    jvm = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    parent, cpu = {}, {}
    tick = os.sysconf("SC_CLK_TCK")
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:     # the process ended while we listed /proc
            continue
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15]) / tick
    total = sum(os.times()[:4])
    for pid in cpu:
        p = pid
        while p in parent and p != jvm:
            p = parent[p]
        if p == jvm:
            total += cpu[pid]
    return total


def cpu_ticks() -> tuple[int, int, int]:
    """Machine-wide (busy, steal, total) clock ticks from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7]
    return sum(v) - v[3] - v[4] - steal, steal, sum(v)
