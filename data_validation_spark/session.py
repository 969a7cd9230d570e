"""SparkSession construction with the engine's scale-oriented defaults.

Single place that owns the configs the 100 TB plan depends on: AQE (for
skew-join splitting and runtime coalescing), Arrow (for the vectorized
pandas-UDF kernels), and sane shuffle-partition sizing for the local
sandbox.  On a real cluster these come from spark-submit conf; this
builder only fills in what is unset.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Local mode is one JVM, so its heap must fit the host it finds:
    about 40% of ``MemAvailable`` in whole GiB (the rest stays free for
    the Python workers and the page cache), capped at 24g.  A 15 GiB
    host gets 6g; a 128 GiB host gets the 24g cap.  On a cluster,
    executor memory comes from spark-submit instead.  Without
    ``/proc/meminfo`` (non-Linux hosts) the heap is 4g."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(ln.split()[1]) for ln in f
                       if ln.startswith("MemAvailable:"))
    except (OSError, StopIteration, ValueError):
        return "4g"
    return f"{min(24, max(1, int(kib * 0.4) // (1024 * 1024)))}g"


#: heap size; ``SPARK_GRAFT_DRIVER_MEM`` overrides the host-derived value
_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()

ENGINE_DEFAULTS = {
    "spark.driver.memory": _DRIVER_MEM,
    # measured (BASELINE.md, "Measured tuning findings"): WITHOUT a
    # pinned pre-touched heap, array<int32>-heavy scans at 32 threads
    # spend ~35% of CPU in the kernel zeroing freshly-faulted heap pages
    # (lazy -Xms growth × 4× allocation rate) — queries randomly
    # degrade 10-30×.  Pinning
    # -Xms to -Xmx with AlwaysPreTouch pre-zeroes the heap once at
    # startup and makes 32-thread runs stable and faster than 8-thread
    # runs.  GC choice and the nested vectorized reader were innocent
    # (confounded in early probes).
    "spark.driver.extraJavaOptions":
        f"-XX:+UseParallelGC -Xms{_DRIVER_MEM} -XX:+AlwaysPreTouch",
    # runtime re-planning: coalesce small shuffle partitions, split skewed
    # ones — backs up the explicit salting we do for hot sources
    # engine-wide UTC: timestamp_ntz wall clocks read as UTC instants,
    # so epoch arithmetic is engine-portable (DuckDB epoch_us parity)
    # and independent of the host timezone
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow exchange for every pandas UDF / applyInPandas kernel
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # keep scans splittable at ~128 MB — the cluster sweet spot
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # quiet progress bars in test output
    "spark.ui.showConsoleProgress": "false",
}


def get_spark(app_name: str = "data-validation-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    in the sandbox; on a cluster, leave it unset and let spark-submit
    decide.
    """
    # make the package importable in Python workers regardless of the
    # driver's cwd (local mode inherits the env; on a cluster, ship the
    # package with spark-submit --py-files instead)
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (pkg_parent + os.pathsep + pp) if pp else pkg_parent

    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    conf = dict(ENGINE_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    elif master.startswith("local"):
        # Spark's default of 200 shuffle partitions is sized for a
        # cluster; in local mode it triples small-shuffle wall time
        # (200-way shuffle-writer fan-out per map task + 200 reduce
        # tasks — measured 2.07 s vs 0.60 s for a 400k-row groupBy at
        # local[32]).  Default to the local core count; AQE coalescing
        # still shrinks small exchanges below that.  On a cluster
        # (master unset / spark-submit) nothing is overridden.
        m = re.fullmatch(r"local\[(\d+|\*)\]", master)
        n = (os.cpu_count() or 8) if (not m or m.group(1) == "*") \
            else int(m.group(1))
        conf["spark.sql.shuffle.partitions"] = str(max(n, 4))
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
