"""Robustness probes: empty frames, typed (non-string) columns, odd
column names, and bad strings under Spark 4 ANSI mode."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from dwc_dataframe_validator_spark import (
    field_populated_counts,
    generate_breakdowns,
    validate_event_dataframe,
    validate_occurrence_dataframe,
)
from dwc_dataframe_validator_spark.functions import expressions as E


def test_empty_dataframe(spark):
    schema = StructType([
        StructField("occurrenceID", StringType()),
        StructField("decimalLatitude", StringType()),
        StructField("decimalLongitude", StringType()),
        StructField("basisOfRecord", StringType()),
    ])
    df = spark.createDataFrame([], schema)
    rep = validate_occurrence_dataframe(df)
    assert rep.record_count == 0
    assert rep.record_error_count == 0
    # empty + coordinates present: all-valid path → (True, 0, 0)
    assert rep.coordinates_report.has_coordinates_fields is True
    assert rep.coordinates_report.invalid_decimal_latitude_count == 0
    bor = next(v for v in rep.vocab_reports if v.field == "basisOfRecord")
    assert bor.recognised_count == 0 and bor.unrecognised_count == 0
    assert generate_breakdowns(df) == {}


def test_no_known_columns(spark):
    df = spark.createDataFrame([("x", "y")], ["foo", "bar"])
    # id_fields=None (DataFrame entry point) skips the id check entirely
    # (reference validate.py:223-224); the archive path supplies the
    # default ['occurrenceID']
    rep = validate_occurrence_dataframe(df)
    assert rep.record_count == 1
    assert rep.coordinates_report.has_coordinates_fields is False
    assert rep.records_with_taxonomy_count == 0
    assert rep.column_counts == {"foo": 1, "bar": 1}
    assert rep.record_error_count == 0 and rep.errors == []
    # with the archive default spelled explicitly: missing id column →
    # every row errors (reference early-return accounting)
    rep2 = validate_occurrence_dataframe(df, id_fields=["occurrenceID"])
    assert rep2.record_error_count == 1
    assert "MISSING_OCCURRENCEID_FIELD" in rep2.errors


def test_typed_columns_mixed(spark):
    """Typed parquet-style frames must validate without crashing
    (reference only handles all-string; our expressions unify both)."""
    schema = StructType([
        StructField("occurrenceID", IntegerType()),
        StructField("decimalLatitude", DoubleType()),
        StructField("decimalLongitude", DoubleType()),
        StructField("eventDate", TimestampType()),
        StructField("year", IntegerType()),
    ])
    import datetime

    rows = [
        (1, 45.0, 100.0, datetime.datetime(2023, 1, 1), 2023),
        (2, 95.0, -200.0, None, 2023),
        (3, None, None, datetime.datetime(2023, 5, 2), None),
    ]
    df = spark.createDataFrame(rows, schema)
    rep = validate_occurrence_dataframe(df)
    assert rep.record_count == 3
    assert rep.coordinates_report.invalid_decimal_latitude_count == 1
    assert rep.coordinates_report.invalid_decimal_longitude_count == 1
    # mixed-type temporal group (timestamp + int) — the coalesce crash
    # class from round 1 — must count rows with ANY populated
    assert rep.records_with_temporal_count == 3


def test_column_names_with_spaces_and_dots(spark):
    df = spark.createDataFrame(
        [("a", "b")], ["weird name", "dotted.name"]
    )
    counts = field_populated_counts(df)
    assert counts == {"weird name": 1, "dotted.name": 1}
    rep = validate_event_dataframe(df)
    assert rep.record_count == 1
    assert rep.column_counts["dotted.name"] == 1


def test_validate_is_single_pass(spark):
    """The whole scalar-metric battery must execute as ONE Spark job
    (one scan) when no offender sampling is needed — the core
    architectural claim vs the reference's >=10 passes.  AQE is
    disabled for the probe because it splits one query into per-stage
    jobs."""
    df = spark.createDataFrame(
        [("1", "Aus bus", "10.0", "20.0", "WGS84", "HumanObservation")],
        ["occurrenceID", "scientificName", "decimalLatitude",
         "decimalLongitude", "geodeticDatum", "basisOfRecord"],
    )
    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("single-pass-probe", "validate")
        validate_occurrence_dataframe(df, ["occurrenceID"])
        job_ids = sc.statusTracker().getJobIdsForGroup("single-pass-probe")
        assert len(job_ids) == 1, f"expected 1 job, saw {len(job_ids)}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        sc.setJobGroup("", "")


def test_date_breakdowns_single_job(spark):
    """year/month/day histograms must come from ONE combined
    groupBy(year, month, day) job, not three scans (the reference
    triple-scans; round-1 review required proving the fix)."""
    from dwc_dataframe_validator_spark.operators.breakdown import (
        generate_event_date_breakdown,
    )

    df = spark.createDataFrame(
        [("2023-01-0%d" % (i % 9 + 1),) for i in range(20)], ["eventDate"]
    )
    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("date-bd-probe", "breakdown")
        year_bd, month_bd, day_bd = generate_event_date_breakdown(df)
        job_ids = sc.statusTracker().getJobIdsForGroup("date-bd-probe")
        assert len(job_ids) == 1, f"expected 1 job, saw {len(job_ids)}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        sc.setJobGroup("", "")
    assert year_bd == {2023: 20}
    assert sum(day_bd.values()) == 20


def test_breakdowns_skip_overwritten_raw_histograms(spark):
    """With eventDate present, the raw year/month/day histograms it
    overwrites launch no job: the breakdowns cost the one date job plus
    one per top-values field, and the report (key order included)
    equals the compute-then-overwrite form."""
    from dwc_dataframe_validator_spark.operators.breakdown import (
        generate_event_date_breakdown,
        top_values_breakdown,
    )

    df = spark.createDataFrame(
        [("1999", "7", "3", "2023-01-0%d" % (i % 9 + 1), "Aus bus",
          "Aidae") for i in range(20)],
        ["year", "month", "day", "eventDate", "scientificName", "family"],
    )
    sc = spark.sparkContext
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        sc.setJobGroup("bd-overwrite-probe", "breakdown")
        bd = generate_breakdowns(df)
        job_ids = sc.statusTracker().getJobIdsForGroup("bd-overwrite-probe")
        assert len(job_ids) == 3, f"expected 3 jobs, saw {len(job_ids)}"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        sc.setJobGroup("", "")
    year_bd, month_bd, day_bd = generate_event_date_breakdown(df)
    assert list(bd) == ["year", "month", "day", "scientificName", "family"]
    assert bd == {
        "year": year_bd, "month": month_bd, "day": day_bd,
        "scientificName": top_values_breakdown(df, "scientificName", 20),
        "family": top_values_breakdown(df, "family", 20),
    }
    assert bd["year"] == {2023: 20}


def test_bad_strings_ansi_safe(spark):
    """ANSI mode is on in Spark 4 — lenient coercions must not raise."""
    df = spark.createDataFrame(
        [("abc",), ("1e309",), ("-91",), ("2023-13-45",), (" 42 ",)],
        ["decimalLatitude"],
    )
    row = df.agg(
        E.valid_numeric_count("decimalLatitude").alias("num"),
        E.valid_range_count("decimalLatitude", -90, 90).alias("rng"),
    ).collect()[0]
    # "1e309" overflows to Infinity (coercible, out of range), " 42 " trims
    assert row["num"] == 3
    assert row["rng"] == 1
    parsed = df.select(
        E.to_timestamp_lenient("decimalLatitude").alias("ts")
    ).collect()
    assert all(r["ts"] is None for r in parsed)


def test_round3_operators_on_empty_inputs(spark):
    from pyspark.sql import functions as F

    from dwc_dataframe_validator_spark.operators.graph import (
        connected_components,
    )
    from dwc_dataframe_validator_spark.operators.sampling import (
        hash_sample,
        stratified_sample,
    )
    from dwc_dataframe_validator_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )
    from dwc_dataframe_validator_spark.operators.text import term_frequencies

    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    assert term_frequencies(empty_docs).count() == 0

    empty_edges = spark.createDataFrame([], "ida long, idb long")
    assert connected_components(empty_edges).count() == 0

    empty_v = spark.createDataFrame([], "v string")
    sk = cms_build(empty_v, "v", depth=2, width=4)
    assert sk.count() == 0
    # estimating against an empty sketch yields 0, not an error
    q = spark.createDataFrame([("x",)], "v string")
    est = cms_estimate(sk, q, "v", depth=2, width=4).collect()
    assert est[0]["cms_est"] == 0

    empty_e = spark.createDataFrame([], "g string, k long")
    assert hash_sample(empty_e, "k", 0.5).count() == 0
    assert stratified_sample(empty_e, "g", "k", 3).count() == 0
