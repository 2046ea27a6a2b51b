"""Process environment shared by the workloads.

Everything the benchmark and the Spark driver it starts write goes under
`.perfbench_work/` in the checkout: workload scratch, Spark's local
(shuffle) dir, the JVM's temp dir, event logs, run records and trace
side files.
"""

from __future__ import annotations

import os
import shutil

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")


def work_path(*parts: str) -> str:
    p = os.path.join(WORK, *parts)
    os.makedirs(p, exist_ok=True)
    return p


def fresh_dir(*parts: str) -> str:
    p = os.path.join(WORK, *parts)
    shutil.rmtree(p, ignore_errors=True)
    os.makedirs(p)
    return p


def prepare_env(event_log_dir: str | None) -> None:
    """Pin the session's environment before the program starts Spark:
    local[nproc], shuffle scratch and JVM temp inside the checkout, and
    (traced runs only) an uncompressed, non-rolling JSON event log."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = work_path("spark-local")
    tmp = work_path("tmp")
    os.environ["TMPDIR"] = tmp
    args = [f"--driver-java-options -Djava.io.tmpdir={tmp}"]
    if event_log_dir:
        args += [
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir={event_log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args + ["pyspark-shell"])


def event_log_file(event_log_dir: str) -> str | None:
    names = [n for n in os.listdir(event_log_dir) if not n.startswith(".")]
    return os.path.join(event_log_dir, names[0]) if len(names) == 1 else None


def driver_facts(spark) -> dict:
    """JVM pid and heap, and the shuffle scratch dir actually in use."""
    jvm = spark.sparkContext._jvm
    conf = spark.sparkContext.getConf()
    return {
        "jvm_pid": int(jvm.java.lang.ProcessHandle.current().pid()),
        "driver_heap_max_mb": int(jvm.java.lang.Runtime.getRuntime().maxMemory())
        / 2**20,
        "spark.driver.memory": conf.get("spark.driver.memory", None),
        "spark.local.dir": conf.get("spark.local.dir", None),
        "master": spark.sparkContext.master,
    }


def retained_mb(spark) -> float:
    """Driver JVM heap in use after full collections plus this
    process's resident set: what the run retained (caches, memos,
    cached blocks), independent of GC timing.  Each workload takes it
    before its correctness checks."""
    jvm = spark.sparkContext._jvm
    rt = jvm.java.lang.Runtime.getRuntime()
    for _ in range(2):
        jvm.java.lang.System.gc()
    with open("/proc/self/status") as f:
        rss_kb = next(int(line.split()[1]) for line in f if line.startswith("VmRSS:"))
    return (rt.totalMemory() - rt.freeMemory()) / 2**20 + rss_kb / 1024


def stop_spark(spark) -> None:
    """Stop the session and its gateway JVM, and wait for the JVM to
    exit.  spark.stop() alone leaves the JVM running until this process
    exits; the gateway server exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
