"""Process environment, Spark session lifecycle and event-log parsing.

Everything the benchmark writes (corpus cache, native-kernel cache, Spark
local dirs, stores, event logs) lives under one work directory inside the
checkout, so a run touches nothing else on the host.
"""

from __future__ import annotations

import json
import os
import shlex
import shutil
import signal
import subprocess
import time
from collections import defaultdict

from stats import tree_pids

OP_PROPERTY = "perfbench.op"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str, trace: bool) -> None:
    """Set the variables the driver, the JVM and the Python workers
    inherit. Must run before pyspark or kwage_spark is imported."""
    for d in ("stores", "tmp", "spark-local", "warehouse", "eventlog"):
        # leftovers of an earlier (possibly killed) run
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    for d in ("cache", "tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    # workers start in Spark's own cwd: without this they cannot import
    # kwage_spark when the driver is launched outside the checkout root
    os.environ["PYTHONPATH"] = root + (os.pathsep + old if old else "")
    os.environ["XDG_CACHE_HOME"] = os.path.join(work, "cache")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # the session factory's other inputs are pinned, not inherited
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ.pop("SPARK_SHUFFLE_PARTITIONS", None)
    # the library's default heap is 8 GB. 1 GB holds these workloads and
    # keeps the run small on a shared host. At 8 GB the JVM's resident
    # size wanders with GC timing (1.5-2.8 GB), and ten-seed spreads of
    # peak RSS were 0.12-0.23 against 0.04-0.07 at 1 GB. Traced runs
    # report spark.gc_s, the GC time the cap costs.
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    tmp = os.path.join(work, "tmp")
    args = ["--conf", f"spark.local.dir={os.path.join(work, 'spark-local')}",
            "--conf", "spark.sql.warehouse.dir="
                      f"{os.path.join(work, 'warehouse')}",
            "--conf", "spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
            "-XX:-UsePerfData"]
    # the launcher JVM spark-submit starts first: no hsperfdata in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = (f"-Djava.io.tmpdir={tmp} "
                                         "-XX:-UsePerfData")
    if trace:
        # one plain JSON-lines file per application, readable here
        args += ["--conf", "spark.eventLog.enabled=true",
                 "--conf", "spark.eventLog.compress=false",
                 "--conf", "spark.eventLog.rolling.enabled=false",
                 "--conf", "spark.eventLog.dir=file://"
                           f"{os.path.join(work, 'eventlog')}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args) + " pyspark-shell"


def start_session():
    """The library's own session factory, on local[nproc]."""
    from kwage_spark.sources.session import get_spark
    spark = get_spark(app="perfbench", master=f"local[{nproc()}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(timeout_s: float = 60.0) -> None:
    """Stop the py4j gateway's JVM and wait until every process this one
    started (the JVM and its Python workers) has exited."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — the JVM may already be gone
            pass
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        left = [p for p in tree_pids(me) if p != me]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        for p in left:
            try:
                os.waitpid(p, os.WNOHANG)  # reap our own children
            except ChildProcessError:
                pass
        time.sleep(0.1)


def tag(spark, op: str) -> None:
    """Label the Spark jobs the next calls start (read back from the
    event log in traced runs)."""
    spark.sparkContext.setLocalProperty(OP_PROPERTY, op)


def parse_event_logs(log_dir: str) -> dict[str, dict]:
    """Per op tag: jobs, tasks, executor run/CPU/GC seconds and shuffle
    bytes written, summed over the Spark event logs in ``log_dir``."""
    ops: dict[str, dict] = defaultdict(lambda: {
        "jobs": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_write_bytes": 0})
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path) or name.endswith(".inprogress"):
            continue
        stage_op: dict[int, str] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    op = (ev.get("Properties") or {}).get(OP_PROPERTY)
                    if op is None:
                        continue
                    ops[op]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_op.setdefault(sid, op)
                elif kind == "SparkListenerTaskEnd":
                    op = stage_op.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if op is None or not tm:
                        continue
                    o = ops[op]
                    o["tasks"] += 1
                    o["run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    o["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    o["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    o["shuffle_write_bytes"] += (tm.get(
                        "Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
    return dict(ops)
