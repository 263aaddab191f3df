"""Session lifecycle, timing loop, memory and result formatting shared by
the workloads."""

from __future__ import annotations

import json
import os
import platform
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment(work: Path, root: Path) -> None:
    """Keep every file Spark, the JVM and Python workers write under
    ``work``, and let Python workers import the engine package from
    ``root`` (Spark passes the driver's PYTHONPATH on to its workers)."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TZ"] = "UTC"  # collected timestamps read as UTC
    time.tzset()
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    paths = [str(root)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)


def start_session(work: Path):
    """``get_spark`` on ``local[nproc]``; returns (spark, seconds taken)."""
    from global_market_index_etl_spark.session import get_spark

    cores = nproc()
    t0 = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": "1g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            # -UsePerfData: no hsperfdata files outside the work directory.
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        },
    )
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def cpu_steal_s() -> float:
    """CPU seconds this machine's virtual CPUs have lost to the hypervisor
    (steal time, summed over CPUs): contention a wall-clock run cannot see."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set (VmHWM) of this driver process and of its JVM."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return _vm_hwm_kb(os.getpid()) / 1024.0, _vm_hwm_kb(jvm_pid) / 1024.0


def stamp(spark, workload: str, seed: int, trace: bool) -> dict:
    conf = dict(spark.sparkContext.getConf().getAll())
    keep = {k: v for k, v in sorted(conf.items())
            if k.startswith(("spark.sql.", "spark.master", "spark.driver.memory"))}
    return {
        "workload": workload,
        "seed": seed,
        "trace": int(trace),
        "nproc": nproc(),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "confs": keep,
    }


@dataclass
class LoopResult:
    latencies: list[float] = field(default_factory=list)
    units: int = 0
    attempted: int = 0
    failed: int = 0
    elapsed_s: float = 0.0
    steal_s: float = 0.0


def timed_loop(op, seconds: float, prepare=None) -> LoopResult:
    """Closed loop, one client: call ``op`` until ``seconds`` have passed.

    ``prepare`` runs before each op, outside its latency. ``op`` returns
    the work units it completed. An op that raises counts as attempted and
    failed; its traceback goes to stderr.
    """
    res = LoopResult()
    steal0 = cpu_steal_s()
    t_start = time.perf_counter()
    deadline = t_start + seconds
    while True:
        res.attempted += 1
        if prepare is not None:
            prepare()
        t0 = time.perf_counter()
        try:
            units = op()
        except Exception:
            res.failed += 1
            traceback.print_exc()
        else:
            res.latencies.append(time.perf_counter() - t0)
            res.units += units
        if time.perf_counter() >= deadline:
            break
    res.elapsed_s = time.perf_counter() - t_start
    res.steal_s = cpu_steal_s() - steal0
    return res


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def emit(correct: bool, attempted: int, failed: int, metrics: dict,
         env: dict) -> None:
    print(json.dumps({"stamp": env}))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
