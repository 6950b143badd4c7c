"""Host side of a benchmark run: the pinned environment, host-load
records, process timing and memory, and stopping the JVM.

Everything here acts from outside the program: it sets the environment
variables ``webalizer_spark.session.get_spark`` already reads and leaves
every other engine default as shipped.
"""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import time

# the 16g engine default exceeds a 15 GB host shared with other work;
# 4g holds the benchmark's working set with room to spare
DRIVER_MEM = "4g"
CPU_PROBE_S = 0.5


def cores() -> int:
    """What `nproc` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def pin_env(work: str) -> dict[str, str]:
    """Set the engine's environment for this process and its children;
    returns what was set. Scratch files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    }
    os.environ.update(env)
    return env


def spark_confs(work: str) -> dict[str, str]:
    """extra_confs for get_spark: quiet console, JVM temp files under
    ``work``. Nothing here changes how the engine plans or runs."""
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }


def warm_jvm(spark, work: str) -> None:
    """One small query through a parquet round trip, a shuffle, code
    generation and an Arrow collect: the JVM's one-off start-up work,
    done before anything is timed. It runs no program code."""
    path = os.path.join(work, "warm_jvm")
    (spark.range(100_000).selectExpr("id % 97 AS k", "id AS v")
     .write.mode("overwrite").parquet(path))
    spark.read.parquet(path).groupBy("k").sum("v").toPandas()


def versions(spark) -> dict[str, str]:
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    return {
        "python": platform.python_version(),
        "spark": spark.version,
        "java": jvm.java.lang.System.getProperty("java.version"),
    }


def cpu_probe(repo: str) -> dict:
    """tools/probe_host's busy-loop probe at one thread per core: the
    CPU cycles the host delivered just now (a co-tenant shows as less
    work per thread-second)."""
    sys.path.insert(0, os.path.join(repo, "tools"))
    from probe_host import _burn_cpu, run

    n = cores()
    work = run(_burn_cpu, n, CPU_PROBE_S)
    return {"threads": n, "seconds": CPU_PROBE_S,
            "work_per_thread_s": work / n / CPU_PROBE_S}


def process_start_epoch() -> float:
    """Wall-clock time this process started, from /proc (10 ms ticks)."""
    with open("/proc/self/stat") as f:
        # field 22 (starttime) counts ticks since boot; the command name
        # in field 2 may hold spaces, so split after its closing paren
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    now = time.time()
    return now - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def _status_kb(pid: int | str, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def jvm_pid() -> int:
    """pid of the driver JVM (spark-submit execs into java)."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid  # noqa: SLF001


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the VmHWM peak-RSS counters (Linux clear_refs code 5);
    where that is not allowed the peak counts from process start."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except PermissionError:
            pass


def peak_rss_mb(pids: list[int]) -> float:
    return sum(_status_kb(p, "VmHWM") for p in pids) / 1024.0


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it to end.
    The next get_spark in this process launches a fresh JVM."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    # the JVM exits when its stdin closes (PythonGatewayServer watches it)
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise
    finally:
        SparkContext._gateway = None  # noqa: SLF001
        SparkContext._jvm = None  # noqa: SLF001
