"""Process, session and measurement plumbing shared by the workloads.

Everything here sits OUTSIDE the package under test: it starts the
session through ``session.get_spark``, times calls into the package's
public functions, samples the RSS of the driver's process tree from
``/proc`` and reads job/stage/shuffle counts from Spark's own event log.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

PACKAGE = "mwa_uvdata_pipeline_spark"

#: widest local mode; the benchmark box this was tuned on has 4 cores
CORES = max(1, min(4, os.cpu_count() or 1))

#: driver heap; see configure_env
DRIVER_MEM = "2g"


def configure_env(root: str, work: str, trace: bool) -> None:
    """Point every temp/scratch location of Python, the JVM and Spark
    into ``work`` (inside the checkout) and make the package importable
    on Python workers.

    Workers import the package by reference (cloudpickle pickles the
    DataSource reader, the applyInPandas packers and the codec parsers
    by module path), so ``PYTHONPATH`` must carry the checkout root:
    the package itself only ships a zip for the ``mwa_vis`` source
    (``session.ship_package``, which writes to ``/tmp``) and relies on
    the worker's cwd for everything else.
    """
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    # a cluster-manager-style override of spark.local.dir would win
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    # the package's own knob (session.get_spark): at its 16g default
    # the heap grows lazily and the process tree peaked at 7-9 GB RSS
    # on a 4-core, 15 GB box for these inputs, against ~3 GB at 2g
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    confs = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        evdir = os.path.join(work, "events")
        os.makedirs(evdir, exist_ok=True)
        confs.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": evdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    # the JVM's own temp files and perf data stay in ``work`` too
    java_opts = f"-Djava.io.tmpdir={work} -Dderby.system.home={work} -XX:-UsePerfData"
    args = [f"--conf {k}={v}" for k, v in confs.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [*args, f"--driver-java-options '{java_opts}'", "pyspark-shell"]
    )


def start_session(cores: int = CORES):
    """The user-facing session factory of the package, at the local
    width the workload runs with."""
    from mwa_uvdata_pipeline_spark.session import get_spark

    cores = max(1, min(cores, CORES))
    spark = get_spark("perfbench", master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def mark_package_shipped(spark) -> None:
    """``mwab.register_mwa_source`` zips the package into ``/tmp`` for
    the workers; ``configure_env`` already put the package on the
    workers' path, so mark the session as shipped to keep every write
    inside the checkout. Users pay that zip + ``addPyFile`` once per
    session; the benchmark does not (a test pins the marker name)."""
    setattr(spark, f"_shipped_{PACKAGE}", True)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it (Python workers
    die with it)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def gc_seconds(spark) -> float:
    """Cumulative collection time of every JVM garbage collector."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


# ---------------------------------------------------------------- RSS


def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            pass
        stack.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Peak summed RSS of this process and all its descendants (JVM,
    Python daemon and workers), sampled every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------- stats


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in 0..100)."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int) -> float:
    """The highest of p99/p95/p90 with at least ten samples beyond it;
    below 100 samples no such percentile exists and p90 is used."""
    for q in (99.0, 95.0, 90.0):
        if n * (1 - q / 100.0) >= 10:
            return q
    return 90.0


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


@contextmanager
def job_group(spark, name: str):
    """Tag every job started inside the block (event-log attribution)."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


# ---------------------------------------------------------------- event log


def eventlog_groups(evdir: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, stages, shuffle bytes written and input
    records read, from the (uncompressed, non-rolling) event log of the
    stopped application."""
    jobs: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "shuffle_bytes": 0, "input_records": 0}
    )
    for name in sorted(os.listdir(evdir)):
        with open(os.path.join(evdir, name), encoding="utf-8") as f:
            for line in f:
                # the SQL plan events dominate the log; skip them unparsed
                if '"Event":"SparkListenerJob' not in line[:40] and (
                    '"Event":"SparkListenerStageCompleted"' not in line[:60]
                ):
                    continue
                e = json.loads(line)
                ev = e["Event"]
                if ev == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    jobs[e["Job ID"]] = group
                    out[group]["jobs"] += 1
                    for s in e.get("Stage Infos", []):
                        stage_group[s["Stage ID"]] = group
                elif ev == "SparkListenerStageCompleted":
                    s = e["Stage Info"]
                    group = stage_group.get(s["Stage ID"])
                    if group is None:
                        continue
                    out[group]["stages"] += 1
                    for a in s.get("Accumulables", []):
                        if a.get("Name") == "internal.metrics.shuffle.write.bytesWritten":
                            out[group]["shuffle_bytes"] += int(a.get("Value", 0))
                        elif a.get("Name") == "internal.metrics.input.recordsRead":
                            out[group]["input_records"] += int(a.get("Value", 0))
    return dict(out)


def sum_groups(groups: dict[str, dict[str, float]], prefix_list: list[str]) -> dict[str, float]:
    tot = {"jobs": 0, "stages": 0, "shuffle_bytes": 0, "input_records": 0}
    for g in prefix_list:
        for k, v in groups.get(g, {}).items():
            tot[k] += v
    return tot
