"""Pinned environment, Spark session lifetime and process-tree accounting.

Every run of every workload builds its session through `open_spark`, so a
parent commit and a change always run with the same cores, heap, shuffle
width and directories. Everything a run writes lives under the checkout's
`.perfbench_work/` directory."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# pinned run settings: identical for parent and change. A 2 GB heap is
# double Spark's default; with 4 GB the JVM's heap growth (and so the
# peak RSS) swung by a fifth from run to run
DRIVER_MEM = "2g"


def cores() -> int:
    """`nproc`: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def shuffle_partitions(n_cores: int) -> int:
    return max(2 * n_cores, 8)


# ---------------------------------------------------------------------------
# environment record
# ---------------------------------------------------------------------------


def _mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def _git_sha() -> str:
    """HEAD of the checkout when it is a git work tree, else 'unknown'."""
    head = os.path.join(ROOT, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if ref.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", ref[5:])) as f:
                return f.read().strip()
        return ref
    except OSError:
        return "unknown"


def cpu_steal_s() -> float:
    """Time the hypervisor gave this VM's CPUs to others, since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def env_record(seed: int, n_cores: int) -> dict:
    import pyspark

    return {
        "seed": seed,
        "git_sha": _git_sha(),
        "nproc": n_cores,
        "master": f"local[{n_cores}]",
        "driver_mem": DRIVER_MEM,
        "shuffle_partitions": shuffle_partitions(n_cores),
        "mem_total_kb": _mem_total_kb(),
        "loadavg_before": list(os.getloadavg()),
        "steal_s_at_start": cpu_steal_s(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
    }


# ---------------------------------------------------------------------------
# process tree (psutil is not installed: /proc directly)
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb() -> float:
    """Sum of per-process peak RSS (VmHWM) over this process and every
    descendant still alive: the Python driver, the JVM and its Python
    workers. An upper bound on the tree's simultaneous peak."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me, *descendants(me)]) / 1024.0


# ---------------------------------------------------------------------------
# Spark session lifetime
# ---------------------------------------------------------------------------


def pin_env(workdir: str, n_cores: int) -> None:
    """Environment the product's `get_spark` reads, plus temp dirs kept
    inside the checkout. Set before the JVM launches."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(n_cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_SHUFFLE": str(shuffle_partitions(n_cores)),
        "SPARK_LOCAL_DIRS": os.path.join(workdir, "local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TMPDIR": tmp,
    })


def open_spark(workdir: str, n_cores: int, event_log: bool = False):
    """One driver process on local[n_cores], progress bars off."""
    from smartcrawler_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(workdir, "local"),
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(workdir, 'tmp')}",
    }
    if event_log:
        log_dir = os.path.join(workdir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=shuffle_partitions(n_cores),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def close_spark(spark) -> None:
    """Stop the context, end the JVM and wait for every process it started."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spawned = descendants(os.getpid())
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin pipe closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    wait_gone(spawned)


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait for processes that are not our direct children to exit;
    SIGKILL any still alive after the timeout."""
    if not _wait_until_gone(pids, timeout_s):
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _wait_until_gone(pids, 5.0)


def _wait_until_gone(pids: list[int], timeout_s: float) -> bool:
    deadline = time.monotonic() + timeout_s
    while any(_running(p) for p in pids):
        if time.monotonic() > deadline:
            return False
        time.sleep(0.1)
    return True


def _running(pid: int) -> bool:
    """False once the process has exited (gone, or a zombie)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dp, f))
            except OSError:
                pass
    return total


def remove_tree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
