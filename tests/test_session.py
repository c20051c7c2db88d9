"""The test session is built by ``local_session``, like every bench and
tool: pin the confs it sets that decide how repeated queries run."""

from __future__ import annotations

from dwc_dataframe_validator_spark import registry


def _janino_compiles(spark) -> int:
    jvm = spark.sparkContext._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_codegen_cache_holds_the_crawl_working_set(spark, sf_dir):
    """One ``minhash_dedup_keepers`` + ``crawl_ingest_check`` pass
    generates about 155 distinct classes (179 with AQE off).  With
    Spark's default cache of 100 they are evicted before reuse and every
    pass recompiles them; with the session's cap the third pass compiles
    nothing.

    AQE is off for the passes: it numbers whole-stage codegen stages in
    the order its query stages materialize, so a pass can now and then
    emit a few class texts (same code, another stage id) that no earlier
    pass made.  Without it every pass makes the same classes."""
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "1000"
    queries = registry.get_queries()
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        compiled = []
        for _ in range(3):
            before = _janino_compiles(spark)
            for q in ("minhash_dedup_keepers", "crawl_ingest_check"):
                assert queries[q](spark, sf_dir).collect()
            compiled.append(_janino_compiles(spark) - before)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert compiled[2] == 0, compiled
