"""The benchmark's Spark session: start, stop, and what the JVM and the
host did during the timed part."""

from __future__ import annotations

from pathlib import Path


def start_session(work: Path, cpus: int):
    """A session from the engine's ``get_spark`` on ``local[cpus]`` with
    one shuffle partition per core, its scratch files kept under
    ``work``, a 2 GB heap, no UI, and enough retained jobs and stages
    for a traced run to read every one back."""
    from datapoints_csv_extractor_spark import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def cpu_jiffies() -> tuple[int, int]:
    """``(steal, total)`` jiffies of all CPUs from ``/proc/stat``; zeros
    where the file does not exist."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    return fields[7], sum(fields)


class SessionStats:
    """JIT compile time, GC time (both from the JVM's management beans,
    read over py4j) and host CPU steal between ``start`` and ``stop``."""

    def __init__(self, spark):
        self._mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._t0 = self._t1 = None

    def _snapshot(self) -> tuple[float, float, int, int]:
        mf = self._mf
        jit = mf.getCompilationMXBean().getTotalCompilationTime()
        gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
        return (jit, gc, *cpu_jiffies())

    def start(self) -> None:
        self._t0 = self._snapshot()

    def stop(self) -> None:
        self._t1 = self._snapshot()

    def _delta(self, i: int) -> float:
        if self._t0 is None or self._t1 is None:
            return 0.0
        return float(self._t1[i] - self._t0[i])

    @property
    def jit_ms(self) -> float:
        return self._delta(0)

    @property
    def gc_ms(self) -> float:
        return self._delta(1)

    @property
    def steal_pct(self) -> float:
        total = self._delta(3)
        return 100.0 * self._delta(2) / total if total else 0.0
