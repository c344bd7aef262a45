"""SparkSession factory with engine-wide configuration.

The reference engine's session-level knobs (CPU/GPU mode, COMPASS toggle
``\\fpd``, watchdog) map here to Spark confs. Key choices:

- AQE **on**: runtime coalescing / skew-join handling replaces the
  reference's fragment dispatch heuristics (mapd-core/QueryEngine/
  Execute.cpp:1172 dispatchFragments).
- CBO join reordering **off**: the COMPASS planner (plans/) must own the
  join order, exactly as the reference feeds its sketch-chosen permutation
  into the left-deep executor (RelAlgExecutor.cpp:2662-2670).
- UTC session timezone: deterministic timestamp semantics for the
  differential oracle (the reference stores epoch seconds, sqltypes.h:51-55).
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

# Conf defaults applied to every engine session. Sized for local[32] test
# runs but chosen to scale: shuffle partition count tracks cluster cores via
# AQE coalescing, maxPartitionBytes keeps scan tasks balanced at 100 TB.
ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # COMPASS owns multi-way join order; keep Spark's static reorder off.
    "spark.sql.cbo.enabled": "false",
    "spark.sql.cbo.joinReorder.enabled": "false",
    "spark.sql.session.timeZone": "UTC",
    # testdata parquet carries isAdjustedToUTC=false timestamps; keep all
    # timestamp literals/casts NTZ so they compare against the scans and
    # against DuckDB's naive timestamps without zone conversion
    "spark.sql.timestampType": "TIMESTAMP_NTZ",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Shuffle sizing: a fixed count cannot serve both regimes — the
    # round-8 1M-vector sweep measured sim_ann_pq at 268.5 s with 32
    # partitions (map-side partial-agg state spilling/GC) vs 24.7 s at
    # 128, a 10.9× cliff from sizing alone. The structural fix is
    # catalog.spread(), which sizes the exchange feeding per-row-
    # expensive compute from the plan-time scan-size estimate. A static
    # coalescePartitions.initialPartitionNum=512 was tried and REVERTED:
    # it never touched the hot map side (spread's width does) and taxed
    # the 113-query JOB A/B ~7-20% at gate scale in order-controlled
    # probes. On a real cluster, set initialPartitionNum ≈ 2-3× total
    # cores at submit time; locally the 32 floor + data-sized spread()
    # is the measured optimum.
    "spark.sql.shuffle.partitions": "32",
}


def _driver_memory() -> str:
    """min(16g, half of physical memory): the heap G1 may grow to must
    leave the rest of the box to the JVM's off-heap memory and the
    Python workers — a 16g heap on a 16 GB box grew until the kernel
    OOM-killed the one-process test run."""
    try:
        phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        return "16g"
    return f"{min(16 << 10, (phys // 2) >> 20)}m"


# Static confs: only apply when *we* launch the JVM (get_spark); a
# driver-provided session already has these fixed.
STATIC_CONF: dict[str, str] = {
    # default 1g driver heap OOMs on wide intermediate joins at sf0.1;
    # in local mode the driver JVM hosts all 32 executor threads
    "spark.driver.memory": _driver_memory(),
    # The engine serves a 206-entry query surface from one session; each
    # query compiles several whole-stage-codegen classes, so the default
    # 100-entry codegen cache thrashes and every query RE-COMPILES its
    # generated classes on every revisit. Round 12 traced text_winnowing's
    # four-round +67% "drift" to exactly this: its per-pass sample paid
    # ~0.8 s of Janino recompilation after 34 other queries evicted its
    # classes (1.35 s vs 2.28 s with the cache sized to the workload, and
    # a full 54-query pass dropped 37.2 -> 30.1 s). 4096 entries bounds
    # the cache at roughly the registry's working set x stages; the same
    # sizing reasoning applies to any long-lived driver serving a wide
    # query mix, independent of cluster size.
    "spark.sql.codegen.cache.maxEntries": "4096",
}


def get_spark(
    app_name: str = "compass-query-optimizer-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — on a real cluster, leave it None
    and submit with ``--master``.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None and "SPARK_MASTER" not in os.environ:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)
    conf = {**ENGINE_CONF, **STATIC_CONF}
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def configure(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an externally created
    session (the driver harness passes us its own SparkSession)."""
    for k, v in ENGINE_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # static confs (e.g. arrow already enabled) can't be reset; fine
            pass
    return spark


def scratch_dir(spark: SparkSession, kind: str, tag: str) -> str:
    """Deterministic-WITHIN-a-process scratch directory for persisted
    artifacts (ANN index round-trips, clustered-layout rewrites).

    Three requirements pull in different directions: (1) reruns inside one
    session must REUSE/overwrite a single dir (a fresh uuid per invocation
    leaked one orphaned temp dir per gate run — round-9 advice), (2) two
    concurrent processes on the same fixture (bench + pytest, parallel
    gates) must NEVER share a path, or overwrite races serve
    partially-written artifacts (round-10 advice), and (3) a predictable
    /tmp name is a symlink/pre-creation hazard on a shared box. Keying on
    uid + the Spark applicationId (unique per SparkContext) + the caller's
    content tag satisfies all three."""
    base = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_u{os.getuid()}",
        spark.sparkContext.applicationId,
        f"{kind}_{tag}",
    )
    os.makedirs(base, exist_ok=True)
    return base
