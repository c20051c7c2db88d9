"""Breakdown (histogram / top-k) generation.

Parity target: reference ``dwc_validator/breakdown.py``:
- ``generate_breakdowns``          (breakdown.py:9-34)
- ``field_populated_counts``       (breakdown.py:37-51) — folded into the
  validator's single-pass MetricPlan (operators/validate.py)
- ``top_values_breakdown``         (breakdown.py:54-62)
- ``simple_breakdown``             (breakdown.py:65-74)
- ``generate_event_date_breakdown``(breakdown.py:77-102)

Quirk preserved (SURVEY.md §2.11.6): when both raw ``year``/``month``/
``day`` columns AND ``eventDate`` exist, the eventDate-derived
histograms OVERWRITE the raw-column ones.  The reference also mutates
the caller's frame (breakdown.py:86) — we do not (Spark frames are
immutable anyway).

Scale notes: each breakdown is a hash aggregation whose output
cardinality is the column's distinct count — tiny relative to input.
Top-k plans TakeOrderedAndProject (per-partition k-heaps, no global
sort).  The dict-typed return values mirror the reference's report
shape; callers that need dataframes use functions/expressions.py
directly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..functions import expressions as E


def simple_breakdown(
    df: DataFrame, field: str, max_values: int = 100_000
) -> dict[str, int]:
    """value→count histogram, null-excluding (breakdown.py:65-74).
    Key order is irrelevant (dict).

    ``max_values`` caps the collect: the dict form is only sane for
    bounded-cardinality columns (year/month/day — the reference's only
    use).  A high-cardinality column raises instead of OOMing the
    driver; use ``functions.expressions.value_histogram`` (a DataFrame)
    for those."""
    rows = E.value_histogram(df, field).limit(max_values + 1).collect()
    if len(rows) > max_values:
        raise ValueError(
            f"simple_breakdown({field!r}): >{max_values} distinct values; "
            "use functions.expressions.value_histogram for a DataFrame form"
        )
    return {r["value"]: r["count"] for r in rows}


def top_values_breakdown(df: DataFrame, field: str, limit: int) -> dict[str, int]:
    """Top-``limit`` values by frequency (breakdown.py:54-62).  Tie order:
    value-ascending (deterministic), vs pandas first-seen."""
    rows = E.top_k_values(df, field, limit).collect()
    return {r["value"]: r["count"] for r in rows}


def generate_event_date_breakdown(
    df: DataFrame, date_col: str = "eventDate", date_parser="multiformat"
) -> tuple[dict[int, int], dict[int, int], dict[int, int]]:
    """year/month/day histograms of lenient-parsed dates
    (breakdown.py:77-102).  ONE ``groupBy(year, month, day)`` job —
    bounded output (≤ |years|·12·31 rows) — then the three marginals
    roll up driver-side.  Keys are ints, matching the reference's
    in-memory dict shape (breakdown.py:95-102; only simple_breakdown
    str-casts its keys).

    ``date_parser="pandas"`` runs the reference's own parse
    (``pd.to_datetime`` free text, breakdown.py:86) instead of the
    deterministic format table — for archives full of dateutil text
    like ``'5th of Jan 2023'`` that the default leaves NULL."""
    rows = E.date_parts_histogram(df, date_col, date_parser).collect()
    year_bd: dict[int, int] = {}
    month_bd: dict[int, int] = {}
    day_bd: dict[int, int] = {}
    for r in rows:
        year_bd[r["year"]] = year_bd.get(r["year"], 0) + r["count"]
        month_bd[r["month"]] = month_bd.get(r["month"], 0) + r["count"]
        day_bd[r["day"]] = day_bd.get(r["day"], 0) + r["count"]
    return year_bd, month_bd, day_bd


def generate_breakdowns(
    df: DataFrame, date_parser="multiformat"
) -> dict[str, dict[str, int]]:
    """Reference breakdown.py:9-34, including the eventDate-overwrites-
    raw-columns quirk.  ``date_parser`` (default the deterministic
    format table) reaches the eventDate parse; pass ``"pandas"`` for
    the reference-exact dateutil free-text behavior.

    The raw-column histograms an eventDate would overwrite are never
    collected; the eventDate ones take their dict positions, so the
    report (key order included) matches the compute-then-overwrite
    form."""
    breakdowns: dict[str, dict[str, int]] = {}
    cols = set(df.columns)
    event = None
    if "eventDate" in cols:
        event = dict(zip(
            ("year", "month", "day"),
            generate_event_date_breakdown(df, date_parser=date_parser),
        ))
    for f in ("year", "month", "day"):
        if f in cols:
            breakdowns[f] = (
                event[f] if event is not None else simple_breakdown(df, f)
            )
    if "scientificName" in cols:
        breakdowns["scientificName"] = top_values_breakdown(df, "scientificName", 20)
    if "family" in cols:
        breakdowns["family"] = top_values_breakdown(df, "family", 20)
    if event is not None:
        breakdowns.update(event)
    return breakdowns


def field_populated_counts(df: DataFrame) -> dict[str, int]:
    """Per-column non-null counts in ONE pass (breakdown.py:37-51).
    The validator computes these inside its MetricPlan; this standalone
    form exists for API parity."""
    row = df.agg(*[E.populated_count(f"`{c}`").alias(f"m{i}")
                   for i, c in enumerate(df.columns)]).collect()[0]
    return {c: int(row[f"m{i}"]) for i, c in enumerate(df.columns)}
