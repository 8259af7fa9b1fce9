"""Run environment: work directory, Spark session lifetime, RSS sampling.

Everything a run writes stays under ``<root>/.perfbench_work``: Spark's
local dirs, the JVM and Python temp dirs, crawl checkpoints, the oracle
caches and the untraced wall-time history used for the tracing overhead.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import threading
from dataclasses import dataclass
from pathlib import Path
from statistics import quantiles

# session.py defaults to a 48g heap, sized for a 32-core box; on a 15 GB
# box that can exhaust memory. 2g holds every workload here, and a capped
# heap keeps the RSS metric steady (G1 grows a larger cap by different
# amounts from run to run)
DRIVER_MEM = "2g"


@dataclass
class RunContext:
    root: Path        # checkout root: holds crawler_distributed_spark/
    work: Path        # <root>/.perfbench_work
    scratch: Path     # per-run scratch under work, wiped at start and end
    cpus: int

    def cache_dir(self, kind: str) -> Path:
        d = self.work / kind
        d.mkdir(parents=True, exist_ok=True)
        return d


def prepare(root: Path) -> RunContext:
    """Create the work dirs and export the environment the engine and its
    Python workers read. Must run before the JVM starts."""
    work = root / ".perfbench_work"
    scratch = work / "run"
    shutil.rmtree(scratch, ignore_errors=True)
    for sub in ("tmp", "spark-local", "ship", "ck"):
        (scratch / sub).mkdir(parents=True, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    env = os.environ
    # executors fork Python workers from the JVM's environment: the
    # package must be importable there, not just on this process's path
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(root), env.get("PYTHONPATH", "")) if p
    )
    env["SPARK_GRAFT_CPUS"] = str(cpus)
    env["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    env["SPARK_GRAFT_LOCAL_DIR"] = str(scratch / "spark-local")
    env["TMPDIR"] = str(scratch / "tmp")
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    env["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return RunContext(root=root, work=work, scratch=scratch, cpus=cpus)


def start_spark(ctx: RunContext):
    from crawler_distributed_spark.session import get_spark

    tmp = ctx.scratch / "tmp"
    return get_spark(
        app_name="perfbench",
        cpus=ctx.cpus,
        extra_conf={
            "spark.sql.warehouse.dir": str(ctx.scratch / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # keep every job/stage of a run in the status store (the
            # traced run reads them back after the run ends)
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session, then the JVM (its Python workers exit with it),
    and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits on EOF from its parent
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


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


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Samples the summed RSS of this process, the JVM and every process
    under the JVM (the Python worker daemon and its workers)."""

    def __init__(self, jvm: int, interval_s: float = 0.2):
        self._jvm = jvm
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self.samples: list[int] = []

    def _sample(self) -> int:
        kids = _children()
        pids, todo = {os.getpid()}, [self._jvm]
        while todo:
            p = todo.pop()
            pids.add(p)
            todo.extend(kids.get(p, ()))
        return sum(_rss_bytes(p) for p in pids)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append(self._sample())
            self._stop.wait(self._interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.samples.append(self._sample())

    def p90_bytes(self) -> float:
        """The 90th percentile sample: the peak footprint without the
        single-sample spikes of a worker fork."""
        return quantiles(self.samples, n=10)[-1] if len(self.samples) > 1 else self.samples[0]


def clean(ctx: RunContext) -> None:
    """Remove the run's scratch files (the caches stay)."""
    shutil.rmtree(ctx.scratch, ignore_errors=True)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())
