"""Pinned Spark session for the benchmark, process-tree memory, and shutdown.

Every setting that changes what a run measures is fixed here, so two trees
are always measured under the same session:

- ``local[k]`` with k = usable cores - 1: one core stays free for the driver
  JVM's own threads and GC;
- shuffle partitions = k, written out rather than left to the default (the
  workloads' shuffles are small, so more partitions only add task overhead);
- no UI and no console progress bars (they flood stderr);
- a bounded driver heap;
- ``SPARK_LOCAL_DIRS`` and the event log under the run's temp dir;
- ``PYTHONPATH`` exported, so Python workers can import the engine.
"""

from __future__ import annotations

import os
import subprocess

DRIVER_MEMORY = "2g"


def cores() -> int:
    """Spark task slots: usable cores minus one for the driver JVM."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def settings(tmp: str, trace: bool) -> dict[str, str]:
    k = cores()
    conf = {
        "spark.master": f"local[{k}]",
        "spark.app.name": "paperchase-perfbench",
        "spark.sql.shuffle.partitions": str(k),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.session.timeZone": "UTC",
        "spark.python.worker.reuse": "true",
        "spark.eventLog.enabled": "true" if trace else "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.dir": os.path.join(tmp, "eventlog"),
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def start(tmp: str, root: str, trace: bool):
    """Start the session. The environment is set first because the JVM and
    its Python workers inherit it at launch."""
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.makedirs(os.path.join(tmp, "eventlog"), exist_ok=True)
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for key, value in settings(tmp, trace).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _jvm_proc(spark):
    return spark.sparkContext._gateway.proc


def children() -> dict[int, list[int]]:
    """pid -> pids of its live child processes, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_steal_s() -> float:
    """Machine-wide CPU time taken by the hypervisor for other guests, from
    /proc/stat; a run with much of it was measured on a contended host."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory (VmHWM, MB) of this Python driver, of the driver
    JVM, and summed over the processes below the JVM (the Python worker
    daemon and its workers, whose shared pages count once per process)."""
    kids = children()
    jvm = _jvm_proc(spark).pid
    below, todo = [], list(kids.get(jvm, []))
    while todo:
        pid = todo.pop()
        below.append(pid)
        todo.extend(kids.get(pid, []))
    return {
        "python_driver": _vm_hwm_kb(os.getpid()) / 1024.0,
        "jvm": _vm_hwm_kb(jvm) / 1024.0,
        f"python_workers_x{len(below)}": sum(_vm_hwm_kb(p) for p in below) / 1024.0,
    }


def stop(spark) -> None:
    """Stop the session and wait until the JVM has exited; its Python
    workers exit when the JVM closes their sockets."""
    from pyspark import SparkContext

    proc = _jvm_proc(spark)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
