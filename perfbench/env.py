"""Host and process plumbing: work directories inside the checkout,
the Spark session the benchmark runs on, and peak-RSS sampling.

Everything the benchmark writes lives under ``<checkout>/.bench_work``:
``cache/`` survives between runs (corpora and oracle answers, keyed by
content), ``run-<pid>/`` is private to one run and removed at its end,
``traces/`` and ``results/`` hold what traced and untraced runs leave
for later runs to read.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

WORK_DIRNAME = ".bench_work"


def host_cores() -> int:
    """Cores this process may run on — what ``nproc`` reports when
    OMP_NUM_THREADS is unset."""
    return len(os.sched_getaffinity(0))


class Workdirs:
    """The benchmark's directories under one checkout root."""

    def __init__(self, root: str):
        self.root = root
        self.base = os.path.join(root, WORK_DIRNAME)
        self.cache = os.path.join(self.base, "cache")
        self.traces = os.path.join(self.base, "traces")
        self.results = os.path.join(self.base, "results")
        self.run = os.path.join(self.base, f"run-{os.getpid()}")
        for d in (self.cache, self.traces, self.results, self.run):
            os.makedirs(d, exist_ok=True)

    def scratch(self, name: str) -> str:
        """A fresh directory private to this run."""
        path = os.path.join(self.run, name)
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        return path

    def cleanup(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


def prepare_process_env(dirs: Workdirs) -> None:
    """Environment the JVM and the Python workers inherit: the checkout
    on PYTHONPATH (workers unpickle engine closures), and every temp
    and local directory inside this run's directory."""
    tmp = os.path.join(dirs.run, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (dirs.root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(dirs.run, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


def start_spark(dirs: Workdirs, cores: int, event_log: bool):
    """The benchmark's session: ``local[cores]`` with the engine's own
    defaults from :func:`lucene_solr_spark.session.get_spark`. Only the
    traced run enables the Spark event log."""
    from lucene_solr_spark.session import get_spark

    tmp = os.path.join(dirs.run, "tmp")
    conf = {
        "spark.driver.memory": "3g",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(dirs.run, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}"
        f" -Dderby.system.home={tmp}",
    }
    if event_log:
        log_dir = os.path.join(dirs.run, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        })
    spark = get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def event_log_files(dirs: Workdirs) -> list[str]:
    """The run's event log, in order: a single file, or the numbered
    ``events_<n>_*`` files of a rolling (``eventlog_v2_*``) log."""
    out = []
    for top, _, files in os.walk(os.path.join(dirs.run, "eventlog")):
        for f in files:
            if f.startswith(("appstatus_", ".")):
                continue  # status marker and checksum files
            n = int(f.split("_")[1]) if f.startswith("events_") else 0
            out.append((top, n, f))
    return [os.path.join(top, f) for top, _, f in sorted(out)]


# -- memory -----------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
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


class PeakRss:
    """Peak resident memory of this process tree: this process, the JVM
    and the Python workers. Each process's VmHWM is kept at its highest
    sampled value, so a worker that has exited still counts."""

    def __init__(self):
        self._hwm: dict[int, int] = {}

    def sample(self) -> None:
        kids = _children()
        todo, seen = [os.getpid()], set()
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            self._hwm[pid] = max(self._hwm.get(pid, 0), _vm_hwm_kb(pid))
            todo.extend(kids.get(pid, ()))

    def mb(self) -> float:
        return sum(self._hwm.values()) / 1024.0


def descendants() -> list[int]:
    kids = _children()
    out, todo = [], list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down, and wait until the JVM and
    every Python worker it started have exited."""
    import signal
    import subprocess

    from pyspark import SparkContext

    procs = descendants()
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + 20
    while time.time() < deadline and any(_alive(p) for p in procs):
        time.sleep(0.1)
    for p in procs:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


def now() -> float:
    return time.perf_counter()
