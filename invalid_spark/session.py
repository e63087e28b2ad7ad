"""SparkSession factory tuned for the validation engine.

Local-mode defaults mirror what the cluster profile would set per
executor: AQE on (runtime re-plan + skew-join), Arrow enabled with a
small batch cap because image ``bytes`` rows are large, shuffle
partitions ~= cores (overridable for the 100 TB profile where this
should be ~2-3x total cores).

The generated-code cache holds 1000 classes instead of Spark's 100
(``spark.sql.codegen.cache.maxEntries``). A call is short: its row
work is a few CPU-seconds, so compiling its plans is a large share of
it. A warm ``runner.validate_appended`` call on a lineitem-shaped
ruleset (ranges, enums, composite ``$unique``, exact and Bloom
``$ref``, ``$drift``, ``$assert``, ``$anomaly``) needs about 120
generated classes. With 100 slots the cache evicts each class before
the next call reuses it, so every warm call recompiled 102-120 classes
(1.3-1.5 s of Janino time plus the JIT of the new classes); with 1000
it compiles about 6. Pass ``extra_conf`` to choose another size.

PySpark's per-call call-site capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every DataFrame, Column and functions call made from Python records
its call site in the JVM: about 10 extra py4j round trips per call
(the active session, a JVM class lookup, a conf read, then setting and
clearing ``PySparkCurrentOrigin``) plus an ``import IPython`` attempt.
A warm ``validate_appended`` call of the ``lineitem_append``
benchmark workload (10,000 appended rows) makes about 300 such calls:
it made 4,890 py4j round trips with the capture on and 1,940 with it
off, and the CPU of its calling Python thread fell from 0.32-0.41 s to
0.17-0.22 s (4-core host, ``local[4]``). The capture only adds a
``== DataFrame == "x" was called from file:line`` block to PySpark's
analysis errors; the package's own ``ValueError``s name the rule path
either way. It is a static conf, read when the session is built: a
caller who builds its own SparkSession must set it then to get the
gain (set it to ``true`` through ``extra_conf`` to get the block back).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Arrow batch size: each batch crosses JVM→Python once, so bigger
# batches amortize the round trip; but rows carry binary image
# payloads (KBs synthetic, MBs production), so the production profile
# should scale this down to keep batches ≲100 MB per Python worker
# (SPARK_GRAFT_ARROW_BATCH env).
ARROW_BATCH_ROWS = int(os.environ.get("SPARK_GRAFT_ARROW_BATCH", "2048"))

# Generated classes Spark keeps across queries: room for about eight
# warm calls' worth (one lineitem-shaped validate_appended call needs
# about 120; see the module docstring).
CODEGEN_CACHE_ENTRIES = 1000


def driver_memory() -> str:
    """``spark.driver.memory``: $SPARK_DRIVER_MEM when set, else half of
    the host's physical memory (``MemTotal`` on Linux), capped at 16g.
    In local mode the driver JVM holds every executor too; the other
    half is left to the Python workers, the page cache and whatever
    else shares the host. A fixed 16g overcommits any host below 32 GB."""
    explicit = os.environ.get("SPARK_DRIVER_MEM")
    if explicit:
        return explicit
    total_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(total_mb // 2, 16 * 1024)}m"


def get_spark(
    app_name: str = "invalid_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", 0)) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # local mode: ~cores; at cluster scale callers pass 2-3x total cores.
        shuffle_partitions = max(cores, 8)

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS)
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.driver.memory", driver_memory())
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
