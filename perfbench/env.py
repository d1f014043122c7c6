"""Process and Spark-session set-up sized to the machine.

``netbase_spark.session.get_spark`` defaults to 32 cores and a 48 GB
JVM heap; the benchmark instead sizes the session from what this
process may use: local[N] with N = usable CPUs, and a JVM heap of a
quarter of physical memory capped at 2 GB.  The package directory goes
on ``PYTHONPATH`` so Spark's Python workers import it, and every
temporary and local directory points inside the run's own work
directory.
"""

from __future__ import annotations

import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def heap_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(1024, min(2048, total_mb // 4))
    return 2048


def prepare_process(work_dir: str) -> None:
    """Environment the JVM and the Python workers inherit; call before
    the session starts."""
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = REPO + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp


def spark_session(work_dir: str):
    from netbase_spark.session import get_spark

    prepare_process(work_dir)
    cpus = usable_cpus()
    tmp = os.path.join(work_dir, "tmp")
    return get_spark(
        app="perfbench",
        cpus=cpus,
        driver_memory=f"{heap_mb()}m",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.driver.extraJavaOptions": (
                "-Dio.netty.tryReflectionSetAccessible=true "
                f"-Djava.io.tmpdir={tmp} "
                f"-Dderby.system.home={tmp}"
            ),
        },
    )
