"""Session set-up, run context and helpers shared by the workloads.

Everything a run writes (Spark local dirs, temp files, snapshot state,
generated tables, event logs) goes under ``perfbench/.work`` inside the
checkout, so a run touches no path outside it.
"""

from __future__ import annotations

import json
import os
import platform
import statistics
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_DIR = os.path.join(BENCH_DIR, ".work")


class MissingProgram(RuntimeError):
    """The checkout holds the benchmark but not the package it measures."""


def cpus() -> int:
    """Cores for ``local[N]``: ``PERFBENCH_CPUS`` or the usable core count."""
    env = os.environ.get("PERFBENCH_CPUS")
    if env:
        return int(env)
    return len(os.sched_getaffinity(0))


def shuffle_partitions(n_cpus: int) -> int:
    env = os.environ.get("PERFBENCH_SHUFFLE_PARTITIONS")
    return int(env) if env else n_cpus


def prepare_process() -> None:
    """Make the package importable here and in every Python worker, and
    point every temp/scratch path at the work dir. Must run before the
    first Spark session starts: workers inherit this process's env."""
    if not os.path.isfile(os.path.join(REPO_ROOT, "seo_crawler_spark", "__init__.py")):
        raise MissingProgram(
            f"seo_crawler_spark not found under {REPO_ROOT}; "
            "run the benchmark from a full checkout"
        )
    if REPO_ROOT not in sys.path:
        sys.path.insert(0, REPO_ROOT)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = REPO_ROOT + (os.pathsep + prior if prior else "")
    tmp = os.path.join(WORK_DIR, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp


def start_session(master_cpus: int, event_log_dir: str | None = None):
    """Start (or restart inside the running JVM) the session every
    workload uses: ``local[master_cpus]`` via the package's
    ``get_spark``, with all scratch paths under the work dir."""
    from seo_crawler_spark.session import get_spark

    tmp = os.path.join(WORK_DIR, "tmp")
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(WORK_DIR, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
        # -XX:-UsePerfData: HotSpot would otherwise write /tmp/hsperfdata_*
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        "spark.eventLog.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(
        "perfbench",
        master=f"local[{master_cpus}]",
        shuffle_partitions=shuffle_partitions(master_cpus),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the session and the driver JVM this process launched, and wait
    for the JVM to exit (it exits when its stdin pipe closes; its Python
    worker daemon exits with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def release_new_blocks(spark, keep: set[int]) -> int:
    """Unpersist every persisted RDD whose id is not in ``keep``.

    ``keep`` is the id set taken right after set-up, so the inputs set-up
    checkpointed (the corpus, the seen table) survive; only what a timed
    operation created is released. Returns how many RDDs were released."""
    n = 0
    for rid, rdd in list(spark.sparkContext._jsc.getPersistentRDDs().items()):
        if rid not in keep:
            rdd.unpersist(False)
            n += 1
    spark.catalog.clearCache()
    return n


def jvm_peak_rss_mb(spark) -> float:
    """``VmHWM`` of the driver JVM, in MiB."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


# A run whose host steal (share of CPU time the hypervisor gave to other
# guests) exceeds this is marked contended: on a 4-CPU VM, ten-seed sets
# with steal at 4-5% gave medians ~30% below sets with steal under 1%.
CONTENDED_STEAL_FRAC = 0.02


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of ``/proc/stat``: user, nice, system,
    idle, iowait, irq, softirq, steal (in clock ticks)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_load(before: list[int], after: list[int]) -> dict:
    """Steal share of all CPU time between two ``cpu_times``."""
    d = [b - a for a, b in zip(before, after)]
    steal = d[7] / (sum(d) or 1)
    return {"steal_frac": steal, "contended": steal > CONTENDED_STEAL_FRAC}


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def noop_write(df) -> None:
    """Materialize every row of ``df`` without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def _git_commit() -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", REPO_ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def run_context(spark, workload: str, seed: int, sizes: dict) -> dict:
    """What a reader needs to judge a number: host, versions, inputs.
    The caller adds the host load over the run (``host_load``)."""
    import pyspark

    return {
        "workload": workload,
        "seed": seed,
        "cpus": cpus(),
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "git_commit": _git_commit(),
        "input_sizes": sizes,
    }


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)


class Workload:
    """What ``run.py`` needs from a workload. Subclasses define ``name``,
    ``sizes``, ``setup`` (generate inputs), ``warmup`` (one untimed pass
    that compiles the operation's plans), ``expected`` (computed once per
    seed, untimed), ``op`` (one timed operation, returning at least
    ``wall_s`` and ``correct``) and ``summarize``."""

    name: str
    # operations per session in the traced run, at the least, so the
    # traced and untraced sides of trace.overhead_frac have samples
    trace_min_ops = 1

    def complete(self, attempted: int) -> bool:
        """True once the operations attempted so far make a whole sample."""
        return attempted > 0

    def steps(self, ops: list[dict]) -> int:
        """Steps (waves, passes, queries) the ops took, for per-step rates."""
        return len(ops)

    def patch_layers(self, tracer) -> None:
        """Wrap the layer functions the traced operations call."""

    def trace_layers(self, spark, tracer, ops: list[dict]) -> dict:
        """Workload-specific per-layer numbers, from the traced session."""
        return {}

    def from_event_log(self, rows: dict[str, dict], layers: dict) -> dict:
        """Per-layer numbers derived from the event log's per-label rows."""
        return {}

    def trace_extra(self, layers: dict) -> dict:
        """Per-layer numbers that need their own session, run after the
        traced session has stopped."""
        return {}

    def cleanup(self) -> None:
        """Remove what the run left under the work dir."""
