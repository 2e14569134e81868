"""Run plumbing shared by every workload: the checkout-local work
directory, the Spark session's start and stop, a /proc memory sampler
and the timing summary the result line reports.

Nothing here starts a process or touches the file system at import time;
``prepare_env`` must run before ``pyspark`` is first imported because the
JVM and its Python workers inherit the environment it sets.
"""

from __future__ import annotations

import os
import statistics
import threading

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(REPO_ROOT, ".perfbench_work")

# local[4] with shuffle partitions at 2x cores: the session posture
# session.py documents for a local run ("shuffle partitions sized to
# cores") and the one the test suite uses. The driver heap is capped so
# the benchmark's footprint stays well inside a shared 16 GB host.
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 8
DRIVER_MEM = "2g"


def prepare_env(run_dir: str) -> None:
    """Point every scratch location of the driver, the JVM and the Python
    workers inside ``run_dir`` and make the repository importable by the
    workers (their first Arrow stage otherwise fails with
    ``ModuleNotFoundError: No module named 'pipeline'``)."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir when set
    paths = [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_UI"] = "false"
    # -Xms = -Xmx: a fixed heap, so peak memory does not depend on when
    # the JVM decides to grow it
    java_opts = f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--conf spark.local.dir={local}",
            f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f'--driver-java-options "{java_opts}"',
            "pyspark-shell",
        ]
    )


def start_session():
    """The production session factory at the benchmark's fixed shape."""
    from pipeline.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM gateway process, and wait for it to exit
    (its Python workers are its children and exit with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


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


def _tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared by the forked Python workers
    and their daemon count once across the tree, not once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_mem_mb() -> float:
    return sum(_pss_kb(p) for p in _tree(os.getpid())) / 1024.0


class MemorySampler:
    """Peak memory of this process tree (driver, JVM, Python workers),
    sampled from /proc on a background thread while ``with`` is open."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_mem_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "MemorySampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_mem_mb())


def summarize(samples: list[float]) -> dict:
    """Median and sample count of a timing."""
    return {"median": statistics.median(samples), "n": len(samples)}
