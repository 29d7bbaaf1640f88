"""Spark session lifetime and the numbers read from outside the package:
the status store, the JVM's and the driver's peak memory, the host
record and the ``pricing_summary`` host control.

Everything a run writes stays under its work directory: Spark's local
dirs, the JVM's and Python's temp dirs, and the captured stderr.
"""

from __future__ import annotations

import os
import re
import statistics
import subprocess
import sys
import tempfile
import time

CPUS = "2"  # local[2] on every host; see README.md "Engine width"
DRIVER_MEM = "2g"
ERROR_LINE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ERROR ")


def prepare_env(work: str) -> None:
    """Point every scratch location of Spark and Python into ``work``.
    Must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ.pop("SPARK_GRAFT_SHUFFLE", None)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    tempfile.tempdir = None  # re-read TMPDIR


class StderrCapture:
    """Sends file descriptor 2 (the JVM inherits it) to a file, so the
    Spark log of one workload can be counted and kept."""

    def __init__(self, path: str):
        self.path = path
        sys.stderr.flush()
        self._saved = os.dup(2)
        fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)

    def restore(self) -> None:
        if self._saved is None:
            return
        sys.stderr.flush()
        os.dup2(self._saved, 2)
        os.close(self._saved)
        self._saved = None

    def error_lines(self) -> int:
        with open(self.path, errors="replace") as fh:
            return sum(1 for line in fh if ERROR_LINE.match(line))

    def tail(self, n: int = 40) -> str:
        with open(self.path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])


def start_session(app: str):
    from data_engineering_demo_real_time_city_mood_tracker_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and the Python workers it
    forked have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    forked = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while any(_running(p) for p in forked) and time.monotonic() < deadline:
        time.sleep(0.1)


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(java_pid: int) -> float:
    """High-water resident memory of the JVM plus this driver process."""
    return (_hwm_kb(java_pid) + _hwm_kb("self")) / 1024.0


def stage_counter(sc) -> int:
    """Id of the next stage, to mark where a measured region starts."""
    store = sc._jsc.sc().statusStore()
    ids = [s.stageId() for s in _stages(sc, store)]
    return max(ids, default=-1) + 1


def _stages(sc, store):
    jvm = sc._jvm
    it = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        yield it.next()


def stage_totals(sc, first_stage: int, end_stage: int) -> dict:
    """Jobs, stages, tasks, shuffle, spill and task time of the stages
    with ids in [first_stage, end_stage), read from Spark's status store."""
    store = sc._jsc.sc().statusStore()
    out = {"stages": 0, "tasks": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "executor_run_s": 0.0}
    stage_ids = set()
    for s in _stages(sc, store):
        if not first_stage <= s.stageId() < end_stage or s.status().toString() == "SKIPPED":
            continue
        stage_ids.add(s.stageId())
        out["stages"] += 1
        out["tasks"] += s.numTasks()
        out["shuffle_read_bytes"] += s.shuffleReadBytes()
        out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        out["executor_run_s"] += s.executorRunTime() / 1000.0
    jobs = 0
    groups: dict[str, int] = {}
    it = store.jobsList(sc._jvm.java.util.ArrayList()).iterator()
    while it.hasNext():
        j = it.next()
        ids = j.stageIds()
        if not any(first_stage <= ids.apply(i) < end_stage for i in range(ids.size())):
            continue
        jobs += 1
        g = j.jobGroup()
        if g.isDefined():
            groups[g.get()] = groups.get(g.get(), 0) + 1
    out["jobs"] = jobs
    out["jobs_by_group"] = groups
    return out


def control_s(spark, sf_dir: str, tracer) -> float:
    """The ``pricing_summary`` host control: one warm-up, then the
    mean of two timed runs."""
    from data_engineering_demo_real_time_city_mood_tracker_spark.plans.queries import QUERIES

    times = []
    for i in range(3):
        with tracer.span("control"):
            t = time.perf_counter()
            QUERIES["pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
            if i:
                times.append(time.perf_counter() - t)
    return statistics.median(times)


def host_record(spark) -> dict:
    sc = spark.sparkContext
    return {
        "nproc": os.cpu_count(),
        "spark_graft_cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark_version": sc.version,
        "java_version": sc._jvm.java.lang.System.getProperty("java.version"),
    }
