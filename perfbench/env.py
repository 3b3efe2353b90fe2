"""The benchmark's own Spark session, sized for the host it runs on."""

from __future__ import annotations

import os
import subprocess
import tempfile

from pyspark.sql import SparkSession


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def _host_ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def start_session(repo_root: str, workdir: str, eventlog_dir: str | None) -> SparkSession:
    """``local[nproc]`` session whose files all stay under ``workdir``.

    The driver heap may grow to 1 GB, or a quarter of host RAM if that is
    less; it is not committed up front, so peak RSS follows what the JVM
    and the Python driver actually touch.  Python workers
    import the package through ``PYTHONPATH``.  The event log is on
    only when ``eventlog_dir`` is given, uncompressed so it can be read
    without a zstd module.
    """
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # the launcher JVM that spark-submit starts first takes only these
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (repo_root, os.environ.get("PYTHONPATH")) if p
    )
    cpus = host_cpus()
    driver_mb = min(1024, _host_ram_mb() // 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.driver.memory", f"{driver_mb}m")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(workdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true" if eventlog_dir else "false")
    )
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        builder = builder.config("spark.eventLog.dir", eventlog_dir).config(
            "spark.eventLog.compress", "false"
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark: SparkSession) -> float:
    """Peak resident set (VmHWM) of this driver process plus its JVM."""
    return _vm_hwm_mb("self") + _vm_hwm_mb(spark.sparkContext._gateway.proc.pid)


def stop_session(spark: SparkSession) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it forked)."""
    gateway = spark.sparkContext._gateway
    proc: subprocess.Popen = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
