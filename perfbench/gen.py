"""Seeded input generators for the benchmark workloads.

Everything here is pure Python (plus pyarrow for the parquet file), so
the same seed always writes byte-identical inputs and no Spark job runs
while inputs are made.  Each generator returns the values the validator
must report for what it planted; the benchmark compares every op's
output against them.
"""

from __future__ import annotations

import os
import random
from collections import Counter

DWC = "http://rs.tdwg.org/dwc/terms/"

# Core columns, in file order.  Index 0 is both <id> and occurrenceID,
# so the archive path resolves the id check to the literal `id` column.
OCC_COLUMNS = (
    "occurrenceID", "basisOfRecord", "scientificName", "family",
    "decimalLatitude", "decimalLongitude", "geodeticDatum", "eventDate",
    "recordedBy", "country",
)

_BASIS_OK = (
    "PreservedSpecimen", "HumanObservation", "MachineObservation",
    "humanobservation", "Occurrence", "MaterialSample",
)
_BASIS_BAD = ("Specimen", "observation record", "Photo", "HUMAN_OBS")
_DATUM_OK = ("WGS84", "wgs84", "NAD83", "EPSG:32755", "GDA94", "EPSG:20350")
_DATUM_BAD = ("WGS-84", "EPSG:4326", "unknown datum", "GRS80")
_LAT_BAD_TEXT = ("north", "n/a", "12.5N", "4O.1")
_LAT_BAD_RANGE = ("95.5", "-123.25", "90.0001", "400")
_LON_BAD_TEXT = ("east", "n/a", "151.2E", "l20")
_LON_BAD_RANGE = ("190.0", "-200.5", "180.0001", "-999")
_FAMILIES = (
    "Myrtaceae", "Fabaceae", "Proteaceae", "Poaceae", "Asteraceae",
    "Orchidaceae", "Accipitridae", "Muridae", "Pteropodidae",
    "Scarabaeidae", "Formicidae", "Acropora",
)
_MONTHS = ("Jan", "Feb", "Mar", "Apr", "May", "Jun",
           "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
_COUNTRIES = ("AU", "NZ", "PG", "ID", "FJ")


def _date(rng: random.Random) -> str:
    """One eventDate in a mix of shapes, some empty or unparseable."""
    y, m, d = rng.randint(1950, 2024), rng.randint(1, 12), rng.randint(1, 28)
    shape = rng.randrange(10)
    if shape < 4:
        return f"{y:04d}-{m:02d}-{d:02d}"
    if shape == 4:
        return f"{m}/{d}/{y}"
    if shape == 5:
        return f"{y:04d}{m:02d}{d:02d}"
    if shape == 6:
        return f"{_MONTHS[m - 1]} {d} {y}"
    if shape == 7:
        return f"{y:04d}-{m:02d}-{d:02d}T10:{d:02d}:00"
    if shape == 8:
        return ""
    return "sometime in spring"


def occurrence_rows(
    rng: random.Random, n: int, id_prefix: str, dup_ids: int, missing_ids: int
) -> tuple[list[list[str]], dict]:
    """``n`` occurrence rows with planted defects, and the report values
    the validator must produce for exactly these rows.

    ``dup_ids`` rows reuse an earlier row's id; ``missing_ids`` rows have
    an empty id.  The reference check stops at the first failing id
    test (missing values win over duplicates), and the expected
    ``record_error_count`` follows that rule.
    """
    rows: list[list[str]] = []
    lat_bad = lon_bad = basis_bad = datum_bad = temporal = 0
    bad_basis_values: set[str] = set()
    bad_datum_values: set[str] = set()
    families: Counter = Counter()
    special = set(rng.sample(range(1, n), dup_ids + missing_ids))
    dup_rows = set(rng.sample(sorted(special), dup_ids))
    for i in range(n):
        if i in dup_rows:
            occ_id = rows[rng.randrange(i)][0] or f"{id_prefix}-0"
        elif i in special:
            occ_id = ""
        else:
            occ_id = f"{id_prefix}-{i}"
        r = rng.random()
        if r < 0.02:
            basis = rng.choice(_BASIS_BAD)
            basis_bad += 1
            bad_basis_values.add(basis)
        elif r < 0.03:
            basis = ""
        else:
            basis = rng.choice(_BASIS_OK)
        r = rng.random()
        if r < 0.015:
            datum = rng.choice(_DATUM_BAD)
            datum_bad += 1
            bad_datum_values.add(datum)
        elif r < 0.05:
            datum = ""
        else:
            datum = rng.choice(_DATUM_OK)
        r = rng.random()
        if r < 0.01:
            lat = rng.choice(_LAT_BAD_TEXT)
            lat_bad += 1
        elif r < 0.02:
            lat = rng.choice(_LAT_BAD_RANGE)
            lat_bad += 1
        elif r < 0.03:
            lat = ""
        else:
            lat = f"{rng.uniform(-90, 90):.5f}"
        r = rng.random()
        if r < 0.01:
            lon = rng.choice(_LON_BAD_TEXT)
            lon_bad += 1
        elif r < 0.02:
            lon = rng.choice(_LON_BAD_RANGE)
            lon_bad += 1
        elif r < 0.03:
            lon = ""
        else:
            lon = f"{rng.uniform(-180, 180):.5f}"
        family = rng.choice(_FAMILIES)
        families[family] += 1
        date = _date(rng)
        temporal += date != ""
        rows.append([
            occ_id, basis, f"{family[:5]} species{rng.randrange(400)}",
            family, lat, lon, datum, date, f"collector{rng.randrange(50)}",
            rng.choice(_COUNTRIES),
        ])
    if missing_ids:
        errors, error_count = ["MISSING_OCCURRENCEID_FIELD_VALUES"], missing_ids
    elif dup_ids:
        errors, error_count = ["DUPLICATE_OCCURRENCEID_VALUES"], dup_ids
    else:
        errors, error_count = [], 0
    expected = {
        "record_count": n,
        "record_error_count": error_count,
        "errors": errors,
        "invalid_decimal_latitude_count": lat_bad,
        "invalid_decimal_longitude_count": lon_bad,
        "unrecognised": {"basisOfRecord": basis_bad, "geodeticDatum": datum_bad},
        "non_matching": {
            "basisOfRecord": sorted(bad_basis_values)[:10],
            "geodeticDatum": sorted(bad_datum_values)[:10],
        },
        "records_with_temporal_count": temporal,
        "family": dict(families),
    }
    return rows, expected


def sum_expected(parts: list[dict]) -> dict:
    """Fold per-file expectations the way ``merge_df_reports`` folds
    per-batch reports: counts add, error lists union."""
    out = {
        "record_count": 0, "record_error_count": 0, "errors": [],
        "invalid_decimal_latitude_count": 0,
        "invalid_decimal_longitude_count": 0,
        "unrecognised": {"basisOfRecord": 0, "geodeticDatum": 0},
        "non_matching": {"basisOfRecord": [], "geodeticDatum": []},
        "records_with_temporal_count": 0,
    }
    for p in parts:
        for k in ("record_count", "record_error_count",
                  "invalid_decimal_latitude_count",
                  "invalid_decimal_longitude_count",
                  "records_with_temporal_count"):
            out[k] += p[k]
        out["errors"] += [e for e in p["errors"] if e not in out["errors"]]
        for f in ("basisOfRecord", "geodeticDatum"):
            out["unrecognised"][f] += p["unrecognised"][f]
            out["non_matching"][f] = sorted(
                set(out["non_matching"][f]) | set(p["non_matching"][f])
            )[:10]
    return out


def _meta_xml(location: str) -> str:
    fields = "\n".join(
        f'    <field index="{i}" term="{DWC}{c}"/>'
        for i, c in enumerate(OCC_COLUMNS)
    )
    return (
        '<?xml version="1.0" encoding="UTF-8"?>\n'
        '<archive xmlns="http://rs.tdwg.org/dwc/text/">\n'
        f'  <core encoding="UTF-8" fieldsTerminatedBy="," '
        f'linesTerminatedBy="\\n" fieldsEnclosedBy="" ignoreHeaderLines="1" '
        f'rowType="{DWC}Occurrence">\n'
        f"    <files><location>{location}</location></files>\n"
        '    <id index="0"/>\n'
        f"{fields}\n"
        "  </core>\n"
        "</archive>\n"
    )


def _write_csv(path: str, rows: list[list[str]]) -> None:
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write(",".join(OCC_COLUMNS) + "\n")
        for r in rows:
            fh.write(",".join(r) + "\n")


def write_archive(out_dir: str, seed: int, n_rows: int) -> dict:
    """An occurrence-core DwC-A *directory* (meta.xml + comma CSV)."""
    rng = random.Random(f"dwca:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    rows, expected = occurrence_rows(
        rng, n_rows, f"occ{seed}", dup_ids=max(1, n_rows // 500), missing_ids=0
    )
    _write_csv(os.path.join(out_dir, "occurrence.csv"), rows)
    with open(os.path.join(out_dir, "meta.xml"), "w", encoding="utf-8") as fh:
        fh.write(_meta_xml("occurrence.csv"))
    return expected


def write_stream_parts(out_dir: str, seed: int, n_files: int, rows_per_file: int) -> dict:
    """``n_files`` occurrence CSV part files for the file stream.  Even
    files plant duplicate ids, odd files plant missing ids, so the
    folded report carries both id errors."""
    rng = random.Random(f"stream:{seed}")
    os.makedirs(out_dir, exist_ok=True)
    parts = []
    for f in range(n_files):
        k = max(1, rows_per_file // 400)
        rows, expected = occurrence_rows(
            rng, rows_per_file, f"s{seed}p{f}",
            dup_ids=k if f % 2 == 0 else 0,
            missing_ids=k if f % 2 == 1 else 0,
        )
        _write_csv(os.path.join(out_dir, f"part-{f:04d}.csv"), rows)
        parts.append(expected)
    return sum_expected(parts)


_LANGS = ("en", "de", "fr", "es", "it")


def write_documents(path: str, seed: int, n_docs: int) -> dict:
    """``documents.parquet`` with the registry's documents schema
    ``(doc_id, text, lang, source, n_chars)`` and planted near-duplicate
    clusters: about a fifth of the documents are one- or two-word edits
    of an earlier document, and about one in twelve is a heavier edit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(f"docs:{seed}")
    vocab = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(2, 9)))
        for _ in range(600)
    ] + ["the", "a", "and", "of", "to", "in", "is", "that", "with", "for"]
    texts: list[str] = []
    originals: list[int] = []
    planted = 0
    for i in range(n_docs):
        r = rng.random()
        if originals and r < 0.28:
            # edit an original, never a copy: clusters stay stars.  Light
            # edits (1-2 words) are near-duplicates; heavy edits (a fifth
            # of the words) land near the 0.5 Jaccard threshold, so LSH
            # makes candidates that verification rejects.
            words = texts[rng.choice(originals)].split()
            n_edits = rng.randint(1, 2) if r < 0.2 else len(words) // 5
            for _ in range(n_edits):
                words[rng.randrange(len(words))] = rng.choice(vocab)
            planted += 1
        else:
            words = [rng.choice(vocab) for _ in range(rng.randint(30, 90))]
            originals.append(i)
        texts.append(" ".join(words))
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([rng.choice(_LANGS) for _ in range(n_docs)], pa.string()),
        "source": pa.array([f"src{rng.randrange(20)}" for _ in range(n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return {"n_docs": n_docs, "planted_near_dups": planted}
