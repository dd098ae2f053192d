"""Session, host and process plumbing for the contract-run benchmark.

Everything here observes the engine from outside: the Spark session is built
by the benchmark, resident memory and Python-worker CPU are read from
``/proc``, and job/stage/task cost comes from the driver's status store
(``SparkContext.statusStore``), which is populated with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import ctypes
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from typing import Dict, Iterable, List, Optional, Tuple

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_data")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


class HarnessError(RuntimeError):
    """The benchmark cannot run here (missing engine, short disk, ...)."""


def require_engine() -> None:
    """Fail unless the engine package sits next to the benchmark."""
    if not os.path.isfile(os.path.join(ROOT, "dcspark", "__init__.py")):
        raise HarnessError(f"dcspark package not found under {ROOT}")


def require_free_disk(need_bytes: int) -> None:
    free = shutil.disk_usage(ROOT).free
    if free < need_bytes:
        raise HarnessError(
            f"need {need_bytes / 2**30:.2f} GiB free disk for inputs, "
            f"{free / 2**30:.2f} GiB free")


def cpus() -> int:
    """Spark task slots: at most 3, with one core left for the driver
    process, the RSS sampler and the OS (op-to-op variation of ``run_s`` on
    a 4-core host: ~6% on local[4], ~3% on local[3])."""
    return max(1, min(3, len(os.sched_getaffinity(0)) - 1))


def session_confs(parallelism: int) -> Dict[str, str]:
    local = os.path.join(WORK, "spark-local")
    tmp = os.path.join(WORK, "tmp")
    return {
        "spark.master": f"local[{parallelism}]",
        "spark.app.name": "dcspark-perfbench",
        # a fixed, pre-touched heap: resident memory then measures what
        # grows beside it (off-heap buffers, Python workers), not how far
        # the collector happened to expand the heap
        "spark.driver.memory": "2g",
        # no hsperfdata file under /tmp: the run writes only in the checkout
        "spark.driver.extraJavaOptions":
            f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.shuffle.partitions": str(parallelism),
        "spark.default.parallelism": str(parallelism),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        # ~60 KB binary cells: bounded columnar/Arrow batches keep the scan
        # inside a small heap
        "spark.sql.parquet.columnarReaderBatchSize": "512",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
        "spark.python.unix.domain.socket.enabled": "true",
        "spark.sql.warehouse.dir": os.path.join(WORK, "spark-warehouse"),
        # the traced run reads every job of a run back from the status store
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "10000",
        "spark.ui.retainedTasks": "200000",
        "spark.sql.ui.retainedExecutions": "2000",
    }


def export_env() -> None:
    """Make the repo importable by Python workers and keep temp files local."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(WORK, "spark-local"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    launcher = os.environ.get("SPARK_LAUNCHER_OPTS", "")
    if "-XX:-UsePerfData" not in launcher:
        os.environ["SPARK_LAUNCHER_OPTS"] = f"{launcher} -XX:-UsePerfData".strip()
    here = os.path.dirname(os.path.abspath(__file__))
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p and p not in (ROOT, here)]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, here] + paths)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(confs: Dict[str, str]):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in confs.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session AND its JVM, so the next start pays a full launch."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def versions(spark) -> Dict[str, str]:
    import pyarrow

    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "java": jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "cpus": str(cpus()),
        "nproc": str(os.cpu_count()),
    }


# -- child processes --------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process a child subreaper.

    A process started under the benchmark that outlives its parent (the
    Python daemon once the JVM has exited, a multiprocessing helper) is then
    re-parented here instead of to init, so ``reap_children`` can stop it
    and wait for it.
    """
    try:
        ctypes.CDLL(None, use_errno=True).prctl(
            _PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _reap_exited() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_resource_tracker() -> None:
    """multiprocessing's resource tracker ignores SIGTERM and would only
    exit after this process; close it the way multiprocessing does."""
    from multiprocessing import resource_tracker

    stop = getattr(resource_tracker._resource_tracker, "_stop", None)
    if stop is not None:
        try:
            stop()
        except (OSError, ChildProcessError):
            pass


def reap_children(grace: float = 10.0) -> List[int]:
    """Stop every process started under this one and wait until each ends.

    Processes get ``grace`` seconds to exit by themselves (the Python daemon
    shuts down once its JVM is gone), then SIGTERM, then SIGKILL. Returns
    the pids that had to be signalled.
    """
    if "multiprocessing.resource_tracker" in sys.modules:
        _stop_resource_tracker()
    me = os.getpid()
    signalled: List[int] = []
    start = time.monotonic()
    sent = None
    while True:
        _reap_exited()
        alive = [p for p in process_tree(me) if p != me]
        if not alive:
            return signalled
        waited = time.monotonic() - start
        sig = (signal.SIGKILL if waited > 2 * grace
               else signal.SIGTERM if waited > grace else None)
        if sig is not None and sig != sent:
            for pid in alive:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            signalled = sorted(set(signalled) | set(alive))
            sent = sig
        time.sleep(0.05)


# -- /proc ------------------------------------------------------------------

def _stat(pid: int) -> Optional[List[str]]:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode("ascii", "replace")
    except OSError:
        return None
    # the command name may contain spaces; fields resume after the last ')'
    return raw[raw.rfind(")") + 2:].split()


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def process_tree(root: int) -> List[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0


def _cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode("utf-8", "replace")
    except OSError:
        return ""


def python_cpu_ms(jvm: int) -> float:
    """utime+stime+cutime+cstime of the JVM's Python daemon and workers.

    A worker that exits is reaped by the daemon, so its time moves into the
    daemon's cutime/cstime; the sum is monotonic across worker churn.
    """
    total = 0
    for pid in process_tree(jvm):
        if pid == jvm or "python" not in _cmdline(pid):
            continue
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return 1000.0 * total / _TICK


class RssSampler:
    """Background sampler of the summed RSS of a process tree."""

    def __init__(self, root: int, period: float = 0.05):
        self.root = root
        self.period = period
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _loop(self) -> None:
        pids = process_tree(self.root)
        refreshed = time.monotonic()
        while not self._stop.is_set():
            if time.monotonic() - refreshed > 0.5:
                pids, refreshed = process_tree(self.root), time.monotonic()
            self.sample(pids)
            self._stop.wait(self.period)

    def sample(self, pids: Optional[Iterable[int]] = None) -> None:
        rss = sum(_rss_bytes(p) for p in (pids or process_tree(self.root)))
        with self._lock:
            self._peak = max(self._peak, rss)

    def take_peak(self) -> int:
        """Peak since the last call; restarts the window."""
        self.sample()
        with self._lock:
            peak, self._peak = self._peak, 0
        return peak


# -- status store -------------------------------------------------------------

def job_ids(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def _opt_ms(opt) -> Optional[int]:
    return opt.get().getTime() if opt.isDefined() else None


def harvest_jobs(spark, ids: Iterable[int]) -> Dict[str, float]:
    """Sum job/stage/task cost of the given jobs from the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    quant = sc._gateway.new_array(sc._gateway.jvm.double, 2)
    quant[0], quant[1] = 0.5, 1.0
    out = dict.fromkeys((
        "jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
        "jvm_cpu_ms", "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes",
        "spill_bytes"), 0.0)
    intervals: List[Tuple[int, int]] = []
    skews: List[float] = []
    seen = set()
    for jid in sorted(ids):
        job = store.job(jid)
        out["jobs"] += 1
        start, end = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
        if start is not None and end is not None:
            intervals.append((start, end))
        sids = job.stageIds()
        for i in range(sids.size()):
            sid = sids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            st = store.lastStageAttempt(sid)
            if st.status().toString() in ("SKIPPED", "PENDING"):
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["jvm_cpu_ms"] += st.executorCpuTime() / 1e6
            out["gc_ms"] += st.jvmGcTime()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.diskBytesSpilled()
            if st.shuffleReadBytes() > 0 and st.numTasks() > 1:
                summary = store.taskSummary(sid, st.attemptId(), quant)
                if summary.isDefined():
                    dur = summary.get().duration()
                    median, top = dur.apply(0), dur.apply(1)
                    skews.append(top / median if median > 0 else 1.0)
    out["task_skew"] = max(skews) if skews else 1.0
    out["intervals"] = intervals
    return out


def union_ms(intervals: List[Tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)
