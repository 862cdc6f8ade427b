"""SparkSession factory with pandas-parity + scale-oriented defaults.

Configuration rationale (SURVEY.md §4.2):

- ``spark.sql.session.timeZone=UTC``: the reference operates on tz-naive
  ``DatetimeIndex`` (/root/reference/traval/ruleset.py:66-67); pinning UTC
  makes TimestampType round-trips deterministic.
- Arrow enabled: every Python-side kernel is an Arrow-batched
  ``applyInPandas``/``pandas_udf`` — never per-row Python UDFs.
- AQE + skew-join on: runtime re-planning for the skewed ``source`` keys
  (the graft input is Zipfian); we additionally salt explicitly in
  :mod:`traval_spark.rollup`.
- shuffle partitions default to the core count: the engine is designed for
  a 1000-executor cluster where this would be raised to O(cores*2-3); the
  value here only serves local runs and is overridable.
- driver heap defaults to about half the memory the process may use
  (cgroup limit, else ``MemTotal``); ``SPARK_DRIVER_MEM`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_memory() -> str:
    """About half of the memory this process may use: the cgroup limit
    (v2 ``memory.max``, else v1 ``memory.limit_in_bytes``) when one is
    set, else ``MemTotal``.  A local-mode driver JVM holds every
    executor, so a fixed heap larger than the box gets the JVM killed
    by the kernel instead of spilling."""
    limit = None
    for path in ("/sys/fs/cgroup/memory.max",
                 "/sys/fs/cgroup/memory/memory.limit_in_bytes"):
        try:
            with open(path) as f:
                raw = f.read().strip()
        except OSError:
            continue
        # "max" (v2) or a near-2^63 sentinel (v1) means no limit
        if raw.isdigit() and int(raw) < 1 << 60:
            limit = int(raw)
            break
    if limit is None:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    limit = int(line.split()[1]) * 1024
                    break
    return f"{max(1, limit // 2 // (1 << 30))}g"


def get_spark(
    app_name: str = "traval-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Parameters
    ----------
    master : str, optional
        e.g. ``local[8]``; defaults to ``local[$SPARK_GRAFT_CPUS]`` or
        ``local[*]``. Ignored when an active session already exists.
    shuffle_partitions : int, optional
        defaults to the local core count (a cluster deployment should set
        this to ~2-3x total cores via spark-submit conf instead).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus and cpus.isdigit() else 32

    # make the package importable inside Python workers (applyInPandas
    # kernels pickle functions by module reference). Local mode workers
    # inherit env, not the driver's runtime sys.path; cluster deployments
    # ship the package via ``spark-submit --py-files`` instead.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pythonpath = os.pathsep.join(
        p for p in (pkg_parent, os.environ.get("PYTHONPATH")) if p
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # rollup tiers are rewritten idempotently per partition on resume
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # generous broadcast threshold: params/bounds/manual-obs tables are
        # tiny dimensions and must broadcast, never sort-merge
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # give up whole-stage codegen at HotSpot's DontCompileHugeMethods
        # threshold (8000 bytecodes) instead of Spark's 64KB default: a
        # fused stage whose generated method passes 8000 bytecodes is
        # NEVER JIT-compiled and runs in the bytecode interpreter, which
        # measured 4-5x slower than the per-operator compiled fallback
        # on the wide dot-product/join stages (scale-independent JVM
        # property, not a local-mode tune)
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM") or _default_driver_memory())
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
