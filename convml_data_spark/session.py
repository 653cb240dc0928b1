"""SparkSession factory with scale-appropriate defaults.

Design notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  broadcast-join demotion/promotion replace any hand-scheduling the reference
  does via its per-scene Luigi task fan-out
  (reference: convml_data/pipeline/utils.py:8-77).
- Session timezone pinned to UTC: every timestamp in the reference's data
  model is UTC scene/aux time (convml_data/utils/time.py:7-34); pinning
  removes driver-local-TZ nondeterminism from date_format/date_trunc.
- Arrow enabled for the pandas-UDF slow path (raster kernels, ML inference).
- shuffle.partitions defaults to the local core count (at least 8); on a real
  cluster this is overridden by AQE's coalescing from an intentionally high
  initial number.
- The codegen cache holds a whole build, and generated class names carry no
  stage number, so a repeated build reuses the classes it already compiled.
  One build compiles about 200 Janino classes (measured on 4 cores, read
  from ``CodegenMetrics``: 212-217 on perfbench's ``scene_dataset``,
  196-201 on ``doc_curation``), but Spark's cache keeps 100 by default, so
  each build evicted the classes the next one needed and every warm build
  compiled 190-214 of them again (~1.4 s of Janino per build, and HotSpot
  starts each new class interpreted). The class name is part of the cache
  key, and with the per-query stage number in it
  (``GeneratedIteratorForCodegenStage19``) identical code under another
  stage number missed the cache. Without it, identical stages share one
  class, within a build too: cold builds compile 166 and 160 classes, and
  a warm build 0-2.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Catalyst's InferFiltersFromGenerate adds a `size(arr) > 0 AND isnotnull`
# filter above every explode(); predicate pushdown then substitutes the FULL
# generator expression through the projects and the repartition Exchange down
# to the file scan. For expression-heavy fan-out (tokenize -> n-gram ->
# explode, the shape of every dedup/corpus operator here) that evaluates the
# whole shingling pipeline TWICE — once in the scan stage, whose parallelism
# is file-layout-bound (a single parquet file = one task doing ALL the work
# serially). Measured at sf0.1: minhash signatures 10.3 s -> 0.39 s with the
# rule excluded. The rule is purely an optimization (it only ever adds
# redundant filters), so excluding it can never change results.
_GENERATE_FILTER_RULE = (
    "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
)


def exclude_generate_filter_inference(spark: SparkSession) -> None:
    """SESSION INVARIANT (same contract as ``tables.enable_nanos_compat``):
    exclude ``InferFiltersFromGenerate`` for the rest of the session, keeping
    any other excluded rules the caller configured. Safe to call repeatedly;
    routed through every explode-heavy operator entry point."""
    existing = ""
    try:
        existing = spark.conf.get("spark.sql.optimizer.excludedRules") or ""
    except Exception:
        pass
    rules = [r for r in existing.split(",") if r]
    if _GENERATE_FILTER_RULE not in rules:
        rules.append(_GENERATE_FILTER_RULE)
        spark.conf.set("spark.sql.optimizer.excludedRules", ",".join(rules))


def _local_driver_memory_default() -> str:
    """Local-mode driver-heap default: ``min(16 GiB, MemTotal/4)``,
    floored at 2 GiB. 16 GiB is right for the 128 GiB bench hosts
    (measured, see ``get_spark``); the quarter-of-RAM cap keeps a
    smaller dev host from swapping under the same default. Only
    consulted when no ``$SPARK_DRIVER_MEMORY`` override is set and the
    master is local."""
    gib = 16
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal"):
                    total_kib = int(line.split()[1])
                    gib = max(2, min(16, total_kib // (4 * 1024 * 1024)))
                    break
    except OSError:
        pass  # no /proc (non-Linux dev box): keep the measured default
    return f"{gib}g"


_DEFAULT_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.optimizer.excludedRules": _GENERATE_FILTER_RULE,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small-dim broadcast threshold: the reference's config/scene dimension
    # tables are tiny; 64 MiB keeps them broadcast at 100 TB fact scale.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.ui.enabled": "false",
    # Static: applies only when get_spark creates the session. A benchmark
    # session (one cold build, then warm builds) held at most ~260 classes;
    # the module docstring has the per-build counts.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Key generated classes by their code, not by the query's stage number.
    "spark.sql.codegen.useIdInClassName": "false",
}


def get_spark(
    app_name: str = "convml-data-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or get) the tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]``; unset, that is
    the number of CPUs this process may run on (what ``nproc`` prints).
    Pass ``master`` or set ``$SPARK_MASTER`` on a real cluster.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else max(int(cpus), 8)
    )
    if os.environ.get("SPARK_DRIVER_MEMORY"):
        conf["spark.driver.memory"] = os.environ["SPARK_DRIVER_MEMORY"]
    elif master.startswith("local"):
        # In local mode the driver JVM IS the executor: Spark's 1g default
        # heap holds every task's execution memory, all storage blocks
        # (persisted shingle relations, localCheckpoint blocks, memory-sink
        # tables) AND the driver bookkeeping. A long session (bench/sweep
        # runs ~26-182 queries back-to-back) accumulates storage until the
        # JVM spends most of its time in GC — measured on the bench at
        # sf0.1: headline total 89.4 s at 1g vs 32.8 s at 8g, with the
        # worst keys 7-10x (dedup_minhash 29.7 -> 4.0 s, stream_daily_counts
        # 27.9 -> 2.9 s). The r18 A/B on the driver-class box (32 cores,
        # 1g/8g/16g x2 interleaved bench runs) measured NO heap effect
        # outside that box's +/-2x run-to-run noise (26-key subtotals
        # 17.1/20.6/23.8 s with round order dominating — BASELINE.md "r18
        # driver-heap A/B"), i.e. the 1g GC pathology is host-class-
        # dependent, and a larger heap is neutral where it isn't needed.
        # HOST-AWARE cap (r17 verdict):
        # a flat 16g on a small host could exceed physical RAM and swap —
        # take min(16 GiB, ~1/4 of MemTotal), floor 2 GiB. Override with
        # $SPARK_DRIVER_MEMORY. On a real cluster (master unset) the
        # deployment sizes driver/executor memory explicitly and this
        # default never applies.
        conf["spark.driver.memory"] = _local_driver_memory_default()
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
