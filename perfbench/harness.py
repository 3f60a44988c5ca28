"""Shared run plumbing: the work directory, the Spark session, timing,
percentiles and process-tree CPU / memory readings from ``/proc``."""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from contextlib import contextmanager

WORK = ".perfbench_run"  # relative to the checkout root; ignored by git


def work_dir(root: str) -> str:
    """A clean scratch directory inside the checkout for this run."""
    path = os.path.join(root, WORK)
    shutil.rmtree(path, ignore_errors=True)
    for sub in ("in", "out", "tmp", "spark-local", "ckpt"):
        os.makedirs(os.path.join(path, sub))
    return path


def prepare_env(root: str, work: str) -> None:
    """Environment the session and its Python workers inherit: the package on
    the workers' path, temp files inside the checkout, a small driver heap."""
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_PYTHON"] = os.environ.get("PYSPARK_PYTHON", "python3")


def start_session(work: str, cpus: int):
    from crypto_market_data_etl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        cpus=cpus,
        extra_confs={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )


def stop_session(spark) -> None:
    """Stop the session, then the driver JVM it runs in, and wait for the JVM
    (and with it the Python workers it started) to exit."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when its stdin closes
        proc.wait(timeout=120)


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (``statistics.quantiles`` 'inclusive')."""
    if len(values) == 1:
        return float(values[0])
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return float(cuts[round(q * 100) - 1])


# --------------------------------------------------------------------------
# process tree (this process, the driver JVM and its Python workers)
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree() -> list[str]:
    parent: dict[str, str] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[pid] = f.read().rsplit(")", 1)[1].split()[1]
            except OSError:
                continue
    tree, frontier = [], [str(os.getpid())]
    while frontier:
        p = frontier.pop()
        tree.append(p)
        frontier.extend(c for c, pp in parent.items() if pp == p)
    return tree


def tree_cpu_s() -> float:
    """User + system CPU seconds of the live process tree."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except OSError:
            continue
    return total / _TICK


def tree_rss_mb() -> float:
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            continue
    return total * _PAGE / 2**20


class RssSampler:
    """Peak process-tree RSS, sampled by a background thread."""

    def __init__(self, every_s: float = 0.25) -> None:
        self.every_s = every_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.every_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def now() -> float:
    return time.perf_counter()


# --------------------------------------------------------------------------
# one run's context and the traced call boundary
# --------------------------------------------------------------------------


class Ctx:
    """What a workload gets: the session, its inputs' seed, the run length,
    the tracer and (traced runs only) Spark's counters."""

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer, counters, tiny: bool) -> None:
        self.spark, self.work, self.seed, self.seconds = spark, work, seed, seconds
        self.tracer, self.counters, self.tiny = tracer, counters, tiny

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def call(self, op: str, build, action, traced: bool = True):
        """Construct ``op``'s DataFrame with ``build()``, then run ``action``
        on it. Traced: spans ``plans.<op>`` and ``exec.<op>``, the jobs each
        part started (jobs started while building are eager jobs), the rows
        the action returned and the SQL metrics of the executions. Returns
        (result, seconds)."""
        tr, cn = self.tracer, self.counters
        t0 = now()
        if not (traced and tr.enabled):
            out = action(build())
            return out, now() - t0
        marker = cn.sql_marker()
        with tr.span(f"plans.{op}"), cn.group(f"{op}:construct") as g_build:
            df = build()
        with tr.span(f"exec.{op}"), cn.group(f"{op}:execute") as g_run:
            out = action(df)
        dt = now() - t0
        eager = cn.jobs(g_build)
        run = cn.jobs(g_run)
        tr.add("plans.eager_jobs", eager["jobs"])
        for k in ("jobs", "stages", "tasks"):
            tr.add(f"exec.{k}", eager[k] + run[k])
        tr.add("exec.rows_out", len(out) if out is not None else 0)
        for k, v in cn.sql_since(marker).items():
            tr.add(f"exec.{k}", v)
        return out, dt

    @contextmanager
    def traced_region(self):
        """Bound the traced region: process-tree CPU is read across it."""
        c0 = tree_cpu_s()
        with self.tracer.span("region"):
            yield
        self.tracer.add("session.cpu_s", tree_cpu_s() - c0)
