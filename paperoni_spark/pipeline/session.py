"""SparkSession construction with the engine's scale-oriented defaults.

These are the settings we would ship to a 1000-executor cluster via
``spark-submit --py-files``; locally they apply to ``local[N]`` unchanged:

* AQE on (runtime coalescing + skew splitting around the UDF stage);
* Arrow enabled with a bounded ``maxBytesPerBatch`` — the extraction UDF
  re-chunks its OUTPUT by bytes, and the byte bound keeps the JVM→Python
  INPUT transfer of span-heavy rows small without shredding narrow-row
  paths into tiny batches;
* shuffle partition count sized to the parallelism level rather than the
  200-partition default (at cluster scale this would instead be ~2-3× total
  cores, or left to AQE coalescing);
* a generated-code cache large enough for a whole job's plans (see
  ``CODEGEN_CACHE_ENTRIES``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# SQL confs that are settable AFTER session creation — spark-submit jobs
# receive an externally-built session (the submitter owns JVM-start confs
# like driver memory) and must still get the engine's Arrow bounds
RUNTIME_ENGINE_CONFS = {
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # bound the JVM→Python Arrow transfer BY BYTES, not records: with
    # heavy-tailed span rows an unbounded batch produces multi-GB direct
    # buffers and kills the job with an Arrow OutOfMemoryException at high
    # task concurrency (reproduced at 500k synthetic docs on local[32]
    # with a 1g driver).  The former 256-record bound protected that case
    # but shredded every NARROW-row Python path (events, embeddings,
    # shingle digests) into hundreds of tiny batches — measured 2× wall
    # on the stateful event streams at sf0.1.  The byte bound is strictly
    # tighter where it matters (256 span rows can be ~25 MB; this caps a
    # batch at 4 MB — the same figure as the extraction UDF's own output
    # chunking) and lets ~500-byte rows batch 8k rows at a time.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(4 * 1024 * 1024),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Partition-discovery strategy for the wave-segmented index roots
    # (one wave=<id> directory per appended wave): past Spark's default
    # threshold of 32 paths every read of the root launches a LISTING
    # JOB, which costs ~0.4 s of scheduling for a listing the driver does
    # in ms on a local/low-latency filesystem (measured on a simhash
    # index root of 48 wave segments, 4 vCPUs, local disk: the delta
    # probe ran 10 jobs in a median 1.86 s at 32 and 9 jobs in 1.46 s at
    # 4096, 7 warm alternating runs each).  On a high-latency object
    # store with >>4k directories per table, parallel listing earns its
    # keep — lower this value there
    # (apply_engine_confs overwrites a submitter's --conf; manifest-based
    # table formats avoid the listing entirely; guide §6).
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "4096",
}


# Compiled whole-stage/expression classes the driver JVM keeps (a static
# conf: set when the session's JVM starts, so a submitter passes it with
# --conf).  Spark's default of 100 is smaller than ONE corpus_job wave's
# distinct generated classes (~180 with --near-dup --dedup-index): on a
# long-lived session the LRU cache then misses every class of every
# wave, and each wave re-runs ~150 Janino compilations plus the JIT
# warm-up of the fresh classes — 15-23 s of JIT compile time per ~9 s
# wave on 4 cores, which slowed the wave and made its time depend on how
# the compiler threads were scheduled.  Sized for every job of the engine
# sharing one session (a crawl-wave run's peak RSS moved <1%).
CODEGEN_CACHE_ENTRIES = 1000


def apply_engine_confs(spark: SparkSession) -> SparkSession:
    """Apply the engine's runtime-settable confs to an existing session
    (the spark-submit path, where the session is built by the submitter)."""
    for k, v in RUNTIME_ENGINE_CONFS.items():
        spark.conf.set(k, v)
    return spark


def build_spark(
    master: str | None = None,
    app_name: str = "paperoni-spark",
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """A session on ``master`` (default: ``local[<usable CPUs>]``) with
    the engine's confs; ``extra_conf`` overrides any of them, e.g. the
    8g ``spark.driver.memory``."""
    master = master or f"local[{len(os.sched_getaffinity(0))}]"
    if master.startswith("local["):
        inner = master[len("local[") : -1]
        shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
    else:
        shuffle_partitions = 200
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in RUNTIME_ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
