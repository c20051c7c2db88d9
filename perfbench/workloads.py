"""The four benchmark workloads.

Each workload writes its seeded inputs (``prepare``), runs one op on a
live session (``op``) and checks that op's output (``check``).  An op is
one whole user-visible request: one archive report, one drained stream,
one registry query collected to the driver.  ``items`` is the number of
records or documents one op completes.
"""

from __future__ import annotations

import os
import shutil
from collections import Counter
from contextlib import nullcontext

import gen

STREAM_ID_FIELDS = ["occurrenceID"]


def no_span(name: str):
    """Default span hook; a traced run replaces it (see spans.py)."""
    return nullcontext()


def _report_values(rep) -> dict:
    """The checked fields of a ``DFValidationReport``."""
    vocab = {v.field: v for v in rep.vocab_reports}
    coords = rep.coordinates_report
    return {
        "record_count": rep.record_count,
        "record_error_count": rep.record_error_count,
        "errors": sorted(rep.errors),
        "invalid_decimal_latitude_count": coords.invalid_decimal_latitude_count,
        "invalid_decimal_longitude_count": coords.invalid_decimal_longitude_count,
        "unrecognised": {f: vocab[f].unrecognised_count for f in vocab},
        "non_matching": {f: vocab[f].non_matching_values for f in vocab},
        "records_with_temporal_count": rep.records_with_temporal_count,
    }


def _expected_values(expected: dict) -> dict:
    keys = ("record_count", "record_error_count", "invalid_decimal_latitude_count",
            "invalid_decimal_longitude_count", "unrecognised", "non_matching",
            "records_with_temporal_count")
    out = {k: expected[k] for k in keys}
    out["errors"] = sorted(expected["errors"])
    return out


class DwcaValidate:
    """``validate_archive`` + ``report_to_json`` on an archive directory."""

    name = "dwca_validate"
    rows = 60_000
    warmup_ops = 4

    def prepare(self, inputs: str, seed: int) -> None:
        self.dir = os.path.join(inputs, "archive")
        self.expected = gen.write_archive(self.dir, seed, self.rows)
        self.items = self.rows

    def op(self, spark):
        from dwc_dataframe_validator_spark import model
        from dwc_dataframe_validator_spark.operators import archive

        report = archive.validate_archive(spark, self.dir)
        return report, model.report_to_json(report)

    def check(self, out) -> bool:
        report, text = out
        return (
            bool(text)
            and report.core_type == gen.DWC + "Occurrence"
            and not report.valid
            and _report_values(report.core) == _expected_values(self.expected)
            and report.breakdowns.get("family") == self.expected["family"]
        )


class StreamValidate:
    """A file stream of occurrence CSV parts through the incremental
    validation sink, drained with ``availableNow`` from a fresh
    checkpoint (one file per trigger)."""

    name = "stream_validate"
    files = 3
    warmup_ops = 3
    rows_per_file = 2_000

    def prepare(self, inputs: str, seed: int) -> None:
        self.dir = os.path.join(inputs, "stream")
        self.checkpoints = os.path.join(inputs, "checkpoints")
        self.expected = gen.write_stream_parts(
            self.dir, seed, self.files, self.rows_per_file)
        self.items = self.files * self.rows_per_file
        self.n = 0

    def op(self, spark):
        from pyspark.sql.types import StringType, StructField, StructType

        from dwc_dataframe_validator_spark.streaming import report_sink

        self.n += 1
        shutil.rmtree(self.checkpoints, ignore_errors=True)
        spark.conf.set("spark.sql.streaming.checkpointLocation",
                       os.path.join(self.checkpoints, str(self.n)))
        schema = StructType([StructField(c, StringType()) for c in gen.OCC_COLUMNS])
        stream = (
            spark.readStream.schema(schema)
            .option("header", True)
            .option("maxFilesPerTrigger", 1)
            .csv(self.dir)
        )
        running = report_sink.RunningReport()
        query = report_sink.validation_report_sink(
            stream, STREAM_ID_FIELDS, running, queryName=f"bench_stream_{self.n}")
        self.last_query = query
        try:
            query.awaitTermination()
        finally:
            query.stop()
        return running

    def check(self, running) -> bool:
        return (
            running.n_batches == self.files
            and _report_values(running.report) == _expected_values(self.expected)
        )


def _rows_key(row) -> tuple:
    return tuple((v is None, v) for v in row)


class CorpusCrawl:
    """The two document-pipeline registry queries over one generated
    ``documents.parquet``: ``minhash_dedup_keepers`` (MinHash-LSH
    near-duplicate clusters, most of its work done eagerly while the
    query is built) and ``crawl_ingest_check`` (WARC decode and jusText
    in ``mapInPandas``, then URL dedup).  Each query's result is
    collected to the driver and compared with the registry's DuckDB
    oracle, which runs once on the same file outside the timed ops."""

    name = "corpus_crawl"
    queries = ("minhash_dedup_keepers", "crawl_ingest_check")
    docs = 300
    warmup_ops = 1

    def prepare(self, inputs: str, seed: int) -> None:
        self.dir = os.path.join(inputs, "tables")
        gen.write_documents(os.path.join(self.dir, "documents.parquet"), seed, self.docs)
        self.items = self.docs
        self.expected = None

    def oracle(self) -> None:
        import duckdb

        from dwc_dataframe_validator_spark import registry

        con = duckdb.connect()
        try:
            path = os.path.join(self.dir, "documents.parquet").replace("'", "''")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
            oracles = registry.get_oracles()
            self.expected = [Counter(_rows_key(r) for r in con.execute(oracles[q]).fetchall())
                             for q in self.queries]
        finally:
            con.close()

    def op(self, spark):
        from dwc_dataframe_validator_spark import registry

        span = getattr(self, "span", None) or no_span
        results = []
        for q in self.queries:
            with span("spark.build"):
                df = registry.get_queries()[q](spark, self.dir)
            with span("spark.exec"):
                results.append(df.collect())
        return results

    def check(self, results) -> bool:
        return len(results) == len(self.expected) and all(
            rows and Counter(_rows_key(tuple(r)) for r in rows) == want
            for rows, want in zip(results, self.expected))


WORKLOADS = {w.name: w for w in (DwcaValidate, StreamValidate, CorpusCrawl)}
