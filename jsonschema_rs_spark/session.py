"""SparkSession factory with scale-oriented defaults.

Local testing runs ``local[N]`` single-JVM; the configs below are the ones
that matter identically on a 1000-executor cluster:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting) —
  the north rule requires explicit skew handling; AQE skew-join plus the
  salting helpers in ``operators/dataset.py`` cover it.
- Arrow enabled for every pandas-UDF crossing.
- ``files.maxPartitionBytes`` sized so a scan task's batch fits executor
  memory with room for the fused constraint projection.
- DataFrame debugging off (``ENGINE_CONF``, also set by the
  ``run_validation.py`` CLI).  With it on, PySpark wraps every ``F.*`` and
  ``Column`` call to record its Python call site in the JVM, about four
  py4j round trips per call on top of the one that builds the Column
  node; off, a plan build costs about one round trip per Column.  PySpark
  reads the setting once per Python process, at the first API call made
  while a session is active, so it must be on the session before the
  first plan is built: a session factory is the place for it.  What an
  error loses: an ``AnalysisException`` keeps its error class, its
  message and the failing operation's name (``divide``); only the query
  context's call site becomes a JVM frame instead of ``file.py:line``,
  which inside the engine would point into this package anyway.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


_BYTE_UNITS = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30,
               "t": 1 << 40}


def _parse_bytes(s: str) -> int:
    """'128m' / '128mb' / '1g' / '134217728' -> bytes (SparkConf size
    grammar: optional k/m/g/t unit, optional trailing b).  Anything else
    raises ValueError."""
    m = re.fullmatch(r"(\d+(?:\.\d+)?)([kmgt]?)b?", str(s).strip().lower())
    if m is None:
        raise ValueError(f"not a byte size: {s!r}")
    return int(float(m.group(1)) * _BYTE_UNITS[m.group(2)])


def est_scan_splits(df) -> int:
    """Estimated scan-split count from the optimizer's size statistics.

    Round 6: the previous probe — ``df.rdd.getNumPartitions()`` — forces
    full physical planning plus a DataFrame->RDD conversion on the driver
    (measured ~0.7s per call here, and it was paid once per query build).
    This mirrors Spark's own split sizing (``FilePartition.maxSplitBytes``)
    from metadata the session has already cached: every file costs
    ``openCostInBytes`` on top of its bytes, and the split size shrinks
    from ``maxPartitionBytes`` towards ``bytes / parallelism`` for small
    inputs.  Unknown/absurd statistics read as "already wide" so no
    surprise shuffle is ever added at scale."""
    try:
        size = int(df._jdf.queryExecution().optimizedPlan().stats()
                   .sizeInBytes())
        n_files = len(df.inputFiles())
    except Exception:
        return 1 << 20
    if size <= 0 or size >= (1 << 62):
        return 1 << 20
    spark = df.sparkSession
    conf = spark.conf
    mpb = _parse_bytes(conf.get("spark.sql.files.maxPartitionBytes",
                                "134217728"))
    open_cost = _parse_bytes(conf.get("spark.sql.files.openCostInBytes",
                                      "4194304"))
    par = int(conf.get("spark.sql.files.minPartitionNum", None)
              or conf.get("spark.sql.leafNodeDefaultParallelism", None)
              or spark.sparkContext.defaultParallelism)
    total = size + n_files * open_cost
    split = min(mpb, max(open_cost, total // max(par, 1)))
    return max(1, total // max(split, 1))


# the session settings the engine needs wherever it runs, cluster included
ENGINE_CONF = {"spark.python.sql.dataFrameDebugging.enabled": "false"}


def _default_driver_mem() -> str:
    """24g, or half the host's physical memory when that is less.  A heap
    cap above physical memory lets the driver JVM grow until the kernel
    kills it, instead of collecting garbage."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "24g"
    return f"{min(24 << 10, max(1 << 10, (phys // 2) >> 20))}m"


def get_spark(app: str = "jsonschema_rs_spark", cores: int | str = "*",
              shuffle_partitions: int | None = None) -> SparkSession:
    cores_s = str(cores)
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores_s}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce small shuffles by DATA SIZE, not parallelism: the
        # verdict/rollup aggregations shuffle O(docs+violations) narrow
        # rows — splitting a few MB across 32 reducers is pure task-launch
        # latency.  Large shuffles still split on
        # advisoryPartitionSizeInBytes, so 100-TB-scale stages keep full
        # parallelism (round 5).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config(map=ENGINE_CONF)
    )
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(shuffle_partitions))
    return builder.getOrCreate()
