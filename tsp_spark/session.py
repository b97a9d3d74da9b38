"""SparkSession factory with scale-oriented defaults.

Tuned for local[N] testing but with settings that carry to a real cluster:
AQE on (runtime re-plan, skew-join mitigation, partition coalescing),
Arrow for the Pandas-UDF slow path, UTC session time zone.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

log = logging.getLogger(__name__)

CODEGEN_CACHE_CONF = "spark.sql.codegen.cache.maxEntries"
# Sizing rationale and sweep numbers: the comment at its .config below.
CODEGEN_CACHE_ENTRIES = 4000


def get_spark(
    app_name: str = "tsp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # On local[N] one JVM does everything; shuffle partitions should match
    # cores, not the 200 default. On a real cluster this is overridden by
    # AQE coalescing anyway.
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = 32

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r14: AQE's coalescing floor sizes partitions by SHUFFLE BYTES,
        # but keyed window chains (CEP islands/timers/frame aggregates)
        # are CPU-bound: ~3 MB of (key, ts, value) rows carry seconds of
        # per-row window work, and the default 1 MB floor coalesced them
        # onto 2 tasks (measured: the 7-pattern stacked materialization
        # ran 2.0 s on 2 of 32 cores; 16k floor -> 3.45 s vs 4.08 s
        # end-to-end). The floor only governs how far SMALL shuffles
        # coalesce — with parallelismFirst (default on) the target is
        # bytes/parallelism when that stays above the floor, so this
        # adapts to the session's core count instead of pinning a
        # partition count, and advisory-sized large shuffles at
        # production scale are unaffected.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("TSP_SPARK_MIN_PARTITION_SIZE", "16k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # r14: PySpark 4's DataFrame debugging captures a Python call
        # site (inspect.stack walk + a py4j round trip into
        # PySparkCurrentOrigin) on EVERY DataFrame/Column API call —
        # measured ~5-10% of wall on plan-construction-heavy queries
        # (the 7-pattern compile makes ~3k such calls per run). Off by
        # default here; errors lose only the Python-side call-site
        # enrichment (JVM stack traces are unaffected). Static conf —
        # set TSP_SPARK_DF_DEBUG=true to re-enable when debugging.
        .config(
            "spark.python.sql.dataFrameDebugging.enabled",
            os.environ.get("TSP_SPARK_DF_DEBUG", "false"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("TSP_SPARK_DRIVER_MEM", "8g"))
        # r14: Spark's ContextCleaner frees dead shuffle files, broadcast
        # blocks and (local)checkpointed RDDs via WEAK REFERENCES — the
        # driver must run a full GC before anything is reclaimed, and the
        # default periodic-GC interval (30 min) is longer than many whole
        # jobs, so a multi-query session accumulates every dead
        # checkpoint/shuffle until memory pressure forces a GC mid-query
        # (measured: late-session legs of a ~15-min run inflate 2-5×
        # while the same legs standalone match their round-over-round
        # baselines). 2 min bounds the garbage window; a driver full GC
        # on an idle 8 GB heap costs ~100 ms.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("TSP_SPARK_PERIODIC_GC", "2min"),
        )
        # Spark caches compiled generated classes (whole-stage and
        # expression codegen) in one JVM-wide LRU of 100 entries by
        # default, and a CEP job generates 20-200 classes: at 100 every
        # job recompiled nearly all of its code with Janino on the
        # driver, even a re-run of the job before it. Measured sweep
        # (local[4], docs/SCALE.md "Generated-code cache"): the 12-job
        # golden slate thrashes at 100 and 300 entries (45.6 / 30.0
        # compiles per warm job) and fits from 600 up; the whole 106-job
        # golden corpus holds ~1,730 distinct classes and the 7-pattern
        # flagship ~155-195 more; the flagship re-run recompiles 181
        # classes at 100 and 0 from 300 up. 4000 holds corpus + flagship
        # with ~2x headroom. perfbench golden_jobs job p50: 0.86 -> 0.47 s
        # (10 pairs, local[4]). Static conf: it must be set before the
        # session starts (see the warning below).
        .config(CODEGEN_CACHE_CONF, str(CODEGEN_CACHE_ENTRIES))
        # The codegen cache keys on the generated source, and by default
        # each whole-stage class is named after its codegen stage id.
        # AQE numbers the stages it re-plans in the order their inputs
        # finish, so an identical re-run could get other names and
        # recompile: the 10-pattern golden job recompiled 0-8 of its
        # ~250 classes per re-run, nondeterministically. Without the id
        # in the name re-runs compiled 0 in every trial, and the first
        # run 242 instead of 264 (stages alike but for their id share a
        # class). Only the class names in stack traces lose the id; plan
        # explains still show it.
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # getOrCreate hands back an already-running session unchanged in its
    # static confs (a driver that built a plain session first): say so
    # when that leaves the generated-code cache smaller than sized above
    live = int(spark.conf.get(CODEGEN_CACHE_CONF))
    if live < CODEGEN_CACHE_ENTRIES:
        log.warning(
            "%s is %d in the running Spark session, below the %d this "
            "engine is sized for; every job will recompile most of its "
            "generated code. Set it before the session starts (e.g. in "
            "spark-defaults.conf).",
            CODEGEN_CACHE_CONF, live, CODEGEN_CACHE_ENTRIES,
        )
    return spark
