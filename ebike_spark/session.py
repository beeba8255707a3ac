"""SparkSession construction tuned for this engine.

The reference engine hardcodes single-partition scans and batch size 1024
(/root/reference/src/datafusion_impl/physical_plan/sled.rs:87-89,
/root/reference/src/store/engine/sled.rs:41-44). We instead let Spark
parallelize scans and size shuffles, and enable AQE so plans re-shape at
runtime (skew joins, partition coalescing) — the settings below are the
ones that matter at 100 TB, not just on the local test box:

- AQE on (+ skew join): at cluster scale, runtime stats beat static
  planning; skewed group/join keys get split automatically.
- ``spark.sql.shuffle.partitions``: sized to cores locally; on a real
  cluster AQE coalesces from an intentionally high initial number.
- UTC session timezone: parquet timestamps compare bit-identically with
  external oracles (DuckDB is UTC-naive).
- Arrow enabled: every pandas_udf / mapInPandas boundary is columnar.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _cpus() -> int:
    """Cores for ``local[N]``: SPARK_GRAFT_CPUS when it holds a positive
    number, else the CPUs this process may run on (what ``nproc``
    reports)."""
    try:
        n = int(os.environ.get("SPARK_GRAFT_CPUS", ""))
    except ValueError:
        n = 0
    if n > 0:
        return n
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API (macOS)
        return os.cpu_count() or 1


# The default driver heap: ~60% of the host's memory, capped at the
# 24g this engine was tuned with — the rest is left to the Python
# side, the page cache and the JVM's off-heap. Sized from the host, not
# a constant: a pinned heap larger than the host refuses to start the
# JVM at all.
_MAX_HEAP_MB = 24 * 1024
_MIN_HEAP_MB = 512
_HEAP_SHARE = 0.6


def heap_for_host(mem_total_mb: int | None) -> str:
    """Default heap for a host with ``mem_total_mb`` MiB of memory, as a
    JVM size string; the 24g cap when the host size is unknown."""
    if not mem_total_mb:
        return f"{_MAX_HEAP_MB}m"
    mb = int(mem_total_mb * _HEAP_SHARE)
    return f"{max(_MIN_HEAP_MB, min(_MAX_HEAP_MB, mb))}m"


def _mem_total_mb(meminfo: str = "/proc/meminfo") -> int | None:
    """The host's MemTotal in MiB (Linux /proc/meminfo, else sysconf);
    None when neither answers."""
    try:
        with open(meminfo) as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024  # reported in kB
    except (OSError, ValueError, IndexError):
        pass
    try:
        return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):
        return None


# One source of truth for the driver heap so -Xmx (spark.driver.memory,
# which the client-mode launcher passes RAW into the JVM flag) and the
# pinned -Xms below can never diverge (a mismatch refuses to start the
# JVM). A bare number is normalized to MiB up front — the raw launcher
# pass-through means an unitless value would otherwise reach the JVM as
# BYTES and kill startup.
def _normalize_heap(mem: str) -> str:
    """Normalize a Spark-legal memory string to a JVM-legal -Xms/-Xmx
    value. Spark's JavaUtils accepts 1g/1gb/1G/1GB (and k/m/t tiers);
    the JVM flag parser accepts only the single-letter suffixes, so
    '24gb' must become '24g' before it reaches -Xms (ADVICE-r13: the
    two-letter form produced an invalid flag that refused JVM
    startup). A bare number is normalized to MiB up front — the
    client-mode launcher passes spark.driver.memory RAW into -Xmx, so
    an unitless value would reach the JVM as BYTES and kill startup."""
    m = mem.strip()
    if m.isdigit():
        return m + "m"
    if m and m[-1] in "bB" and len(m) >= 2 and m[-2] in "kKmMgGtT":
        m = m[:-1]  # 24gb -> 24g (JVM flags reject the two-letter tier)
    if not (m[:-1].isdigit() and m[-1] in "kKmMgGtT"):
        raise ValueError(
            f"SPARK_GRAFT_DRIVER_MEM={mem!r} is not a JVM-legal heap size"
            " (expected <digits>[k|m|g|t][b], e.g. 24g or 512mb)"
        )
    return m


def _driver_mem() -> str:
    """SPARK_GRAFT_DRIVER_MEM when set, else the host-sized default."""
    return _normalize_heap(
        os.environ.get("SPARK_GRAFT_DRIVER_MEM") or heap_for_host(_mem_total_mb())
    )


def _append_java_options(builder_conf_value: str | None, extra: str) -> str:
    """Append our JVM flags to any options a caller already set on the
    builder instead of clobbering them (ADVICE-r13: build_conf
    advertises applying to 'any SparkSession builder')."""
    prior = (builder_conf_value or "").strip()
    return f"{prior} {extra}".strip()


def build_conf(builder: SparkSession.Builder, cpus: int | None = None) -> SparkSession.Builder:
    """Apply this engine's configuration to any SparkSession builder."""
    n = cpus or _cpus()
    mem = _driver_mem()
    # read any options the caller already set so the JVM-flag configs
    # below APPEND rather than clobber (Builder keeps them in _options;
    # fall back to empty when the attribute moves)
    prior = getattr(builder, "_options", {}) or {}
    return (
        builder.config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # ANSI off: the reference's MySQL dialect is permissive (invalid
        # casts yield NULL, no overflow errors); Spark 4 defaults ANSI on.
        .config("spark.sql.ansi.enabled", "false")
        # Wide plans (96-column minhash agg, 56-column simhash votes)
        # must stay inside whole-stage codegen; the 100-field default
        # silently drops them to interpreted mode (~3× slower).
        .config("spark.sql.codegen.maxFields", "400")
        .config("spark.driver.memory", mem)
        # Pin and pre-touch the heap (Xms = Xmx, AlwaysPreTouch). A
        # heap committed up front lets the start-up loads and warm
        # passes run without growing it: with -Xmx alone, setup of a
        # 4g-heap benchmark run took 16% longer (pipeline, 5 pairs) and
        # 7% longer (wire_oltp, 10 pairs) on a 4 vCPU / 15 GiB host. In
        # local mode the executors live inside this JVM, so the driver
        # pin covers the workers; deployed with separate executors,
        # mirror it by sizing -Xms to spark.executor.memory in executor
        # options (AlwaysPreTouch alone is set below).
        .config(
            "spark.driver.extraJavaOptions",
            _append_java_options(
                prior.get("spark.driver.extraJavaOptions"),
                f"-Xms{mem} -XX:+AlwaysPreTouch",
            ),
        )
        .config(
            "spark.executor.extraJavaOptions",
            _append_java_options(
                prior.get("spark.executor.extraJavaOptions"),
                "-XX:+AlwaysPreTouch",
            ),
        )
        # Managed-table warehouse. The catalog is in-memory (no Hive
        # metastore), so table *metadata* dies with the session while
        # *data* directories persist — engine.catalog cleans stale
        # locations before re-creating a table of the same name.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("EBIKE_WAREHOUSE_DIR", os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".warehouse")),
        )
    )


def tune_runtime(spark: SparkSession) -> None:
    """Apply the runtime-settable subset of this engine's configuration
    to a caller-provided session (the driver constructs its own).

    - UTC session timezone is a *correctness* requirement: date-part
      extraction must agree with the UTC-naive DuckDB oracles.
    - AQE + codegen width are performance posture (see SCALE.md).
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    # MySQL-permissive semantics (the reference never errors on casts or
    # overflow); Spark 4 defaults ANSI on, which turns e.g. a long
    # overflow into a query-killing exception.
    conf.set("spark.sql.ansi.enabled", "false")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    if int(conf.get("spark.sql.codegen.maxFields", "100")) < 400:
        conf.set("spark.sql.codegen.maxFields", "400")
    if conf.get("spark.sql.shuffle.partitions", "200") == "200":
        conf.set("spark.sql.shuffle.partitions", str(_cpus()))
    # default 10MB is too conservative for dimension tables on a box
    # with 128 GiB; matches the builder conf
    if conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760b") in ("10485760b", "10485760"):
        conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))


def get_spark(app_name: str = "ebike_spark", cpus: int | None = None) -> SparkSession:
    """Return (creating if needed) the tuned local SparkSession.

    Local mode is ``local[N]``; on a real cluster the same conf applies —
    only ``master`` changes (spark-submit provides it).
    """
    n = cpus or _cpus()
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = SparkSession.builder.appName(app_name).master(f"local[{n}]")
    return build_conf(builder, n).getOrCreate()


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
