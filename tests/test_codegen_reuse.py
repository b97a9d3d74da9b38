"""Compile-once guard: a repeated CEP job must reuse its generated code.

Spark keeps compiled whole-stage and expression classes in one JVM-wide
cache (``spark.sql.codegen.cache.maxEntries``, sized in
``tsp_spark.session.get_spark``). When a job's classes outgrow it, every
run recompiles them on the driver; that costs latency without changing
any output, so only a counter can catch it. The counter is Spark's own
``CodegenMetrics`` compilation histogram: one sample per Janino compile,
none per cache hit. A zero-compile re-run also needs the codegen stage id
kept out of class names (``get_spark``), since AQE may number the stages
of an identical re-run differently."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# row predicates, a windowed aggregate, a timer, lag, and andThen
# sequences: the pattern shapes of a typical multi-pattern submission
PATTERN_IDS = (2, 7, 9, 11, 13, 15, 16, 17, 46, 53)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_repeated_multi_pattern_job_compiles_once(spark):
    from tools import check_golden as G
    from tsp_spark.api import RawPattern, search_incidents
    from tsp_spark.session import CODEGEN_CACHE_CONF

    loader, corpus = G.CONFIGS["core"]
    df, keys, fields = loader(spark)
    df = df.cache()
    df.count()
    patterns, _counts, _ivs = G.golden(corpus)
    by_id = {int(p["id"]): p["sourceCode"] for p in patterns}
    job = [RawPattern(pid, by_id[pid]) for pid in PATTERN_IDS]

    def run() -> tuple[int, list]:
        before = _compiles(spark)
        rows = search_incidents(
            df, job, keys, "ts", fields_types=fields, max_gap_ms=60_000,
            session_gap_ms=1_000,
        ).collect()
        return _compiles(spark) - before, sorted(map(tuple, rows))

    try:
        first, rows1 = run()
        second, rows2 = run()
    finally:
        df.unpersist()
    cache_size = int(spark.conf.get(CODEGEN_CACHE_CONF))
    assert rows1 == rows2 and rows1
    assert second == 0, f"re-run recompiled {second} classes (first run: {first})"
    assert first <= cache_size // 2, (
        f"one job compiled {first} classes, over half the "
        f"{cache_size}-entry codegen cache"
    )


def test_reused_session_with_smaller_cache_warns(spark, monkeypatch, caplog):
    """get_spark on an already-running session cannot change its static
    confs; a cache below the engine's size is logged once, naming the
    conf and both values."""
    import logging

    from tsp_spark import session

    kw = dict(app_name="tsp_spark_tests", master="local[4]", shuffle_partitions=4)
    live = int(spark.conf.get(session.CODEGEN_CACHE_CONF))
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.get_spark(**kw)
    assert not [r for r in caplog.records if r.name == session.__name__]

    monkeypatch.setattr(session, "CODEGEN_CACHE_ENTRIES", live + 1)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        session.get_spark(**kw)
    warned = [r.getMessage() for r in caplog.records if r.name == session.__name__]
    assert len(warned) == 1
    assert session.CODEGEN_CACHE_CONF in warned[0]
    assert f" {live} " in warned[0] and f" {live + 1} " in warned[0]
