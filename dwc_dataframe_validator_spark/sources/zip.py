"""Zip-shard source — the other container corpora (and DwC archives)
ship in.

Many published corpora, Kaggle-style datasets, and every Darwin Core
archive (the reference's own input format — its reader extracts zips
DRIVER-side, ``sources/dwca.py``) arrive as zip files.  This module
is the DISTRIBUTED member walk: ``binaryFile``-parallel over shard
files, stdlib ``zipfile`` parsing, WebDataset-style (key, ext)
grouping via the same ``wds_key_ext`` / ``webdataset_samples`` faces
as the tar source.

Reference parity: none — sources extend the LLM-pipeline family
(SURVEY.md "beyond the reference" brief); the DwC-A zip handling at
``sources/dwca.py:150`` stays driver-side by design (one small
descriptor archive), this module is for member-count-scale corpora.

Scale design mirrors sources/tar.py with one STRUCTURAL difference:
zip's authority lives in the CENTRAL DIRECTORY at the file TAIL
(EOCD record → CD offset → per-member local headers), so
- a shard with a torn tail loses the CD and yields ONE ``ok=false``
  row (member boundaries are unknowable without it — unlike tar,
  where the header CHAIN means a torn tail still yields the prefix);
- a corrupt MEMBER (bad CRC, bad deflate stream, encryption, an
  unsupported method) flags ONLY ITSELF and the walk CONTINUES —
  every other member's boundary is still known from the CD (unlike
  tar, where a broken member breaks the chain).
Per-member CRC32 is VERIFIED (stdlib reads check it at EOF), so bit
rot can never yield silently-wrong member bytes.  Zip-bomb
discipline: members whose DECLARED size exceeds ``_MAX_MEMBER`` are
flagged unread; decompression is incremental (``ZipExtFile``
streams), and a cumulative ``_MAX_SHARD`` budget stops the walk with
a flagged row.  zip64 shards (>4 GiB offsets/sizes) parse for free —
stdlib handles the EOCD64 locator and extra fields.
"""

from __future__ import annotations

import io
import zipfile
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..functions.payload_cache import attach_blobs, map_payloads

from .tar import _MAX_MEMBER, _MAX_SHARD, TAR_MEMBER_SCHEMA, wds_key_ext

#: same member-row shape as the tar source, so ``webdataset_samples``
#: and every downstream (key, ext) consumer apply unchanged
ZIP_MEMBER_SCHEMA = TAR_MEMBER_SCHEMA


def iter_zip_members(raw: bytes, max_payload: int | None = None):
    """Yield ``(index, name, size, content, ok)`` for every regular
    file in a zip's bytes, in central-directory order.  Directories
    are skipped.  An unreadable archive (no/torn EOCD or central
    directory) yields one ``ok=false`` row and stops — without the CD
    there are no trustworthy boundaries.  A bad MEMBER — CRC
    mismatch, torn/corrupt deflate stream, local-header disagreement,
    encryption, an unsupported compression method, or a declared size
    over ``_MAX_MEMBER`` — yields its own ``ok=false`` row (declared
    size kept, content None) and the walk CONTINUES: the CD still
    locates every other member.  A cumulative decompressed-bytes
    budget (``_MAX_SHARD``) stops the walk with a flagged row —
    nested-deflate bombs never balloon an executor."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(raw))
        infos = zf.infolist()
    except (zipfile.BadZipFile, OSError, EOFError, ValueError,
            NotImplementedError):
        # NotImplementedError: stdlib raises it AT OPEN for a central
        # directory declaring an unsupported extract version — on a
        # corrupt shard that's one flipped byte away, so it must flag,
        # not kill the task
        yield 0, None, None, None, False
        return
    idx = 0
    total = 0
    for info in infos:
        if info.is_dir():
            continue
        if info.file_size > _MAX_MEMBER:
            yield idx, info.filename, info.file_size, None, False
            idx += 1
            continue
        if total + info.file_size > _MAX_SHARD:
            yield idx, info.filename, info.file_size, None, False
            return
        try:
            with zf.open(info) as fh:
                data = fh.read(info.file_size + 1)
                # a stream longer than declared would skip the EOF CRC
                # check; force it by draining the (bounded) remainder
                if len(data) > info.file_size or fh.read(1):
                    raise zipfile.BadZipFile("size disagrees with CD")
        except (zipfile.BadZipFile, zlib.error, OSError, EOFError,
                ValueError, RuntimeError, NotImplementedError):
            yield idx, info.filename, info.file_size, None, False
            idx += 1
            continue
        total += len(data)
        if max_payload is not None:
            data = data[:max_payload]
        yield idx, info.filename, info.file_size, data, True
        idx += 1


def _member_rows(path, raw, max_payload):
    rows = []
    for idx, name, size, content, ok in iter_zip_members(
        bytes(raw), max_payload
    ):
        key, ext = wds_key_ext(name) if name else (None, None)
        rows.append((path, idx, name, key, ext, size, content, ok))
    return rows


def read_zip(
    spark: SparkSession,
    path: str | list[str],
    max_payload: int | None = None,
) -> DataFrame:
    """Read zip shard(s) into ``ZIP_MEMBER_SCHEMA`` rows — one row
    per file member, with the WebDataset (key, ext) split
    precomputed.  File-parallel (``binaryFile``), Arrow-batched,
    malformed members → ``ok=false`` rows, never task failures."""
    files = spark.read.format("binaryFile").load(path)
    return _parse_zip_files(files, max_payload)


def _parse_zip_files(
    files: DataFrame, max_payload: int | None
) -> DataFrame:
    """Shared per-file walk behind ``read_zip`` (batch) and
    ``stream_zip`` (streaming) — one parser, so stream ≡ batch by
    construction."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for p, raw in zip(pdf["path"], pdf["content"]):
                rows.extend(_member_rows(p, raw, max_payload))
            yield pd.DataFrame(
                rows,
                columns=["path", "member_index", "member_name", "key",
                         "ext", "size", "content", "ok"],
            )

    return files.select("path", "content").mapInPandas(
        run, ZIP_MEMBER_SCHEMA
    )


_BINARYFILE_SCHEMA = (
    "path string, modificationTime timestamp, length long, "
    "content binary"
)


def stream_zip(
    spark: SparkSession,
    path: str,
    max_payload: int | None = None,
) -> DataFrame:
    """STREAMING face of ``read_zip``: archives LANDING in ``path``
    become a live member stream — the ``stream_tar`` recipe applied
    to zip corpora (same checkpointed binaryFile source, same shared
    walker, so stream ≡ batch by construction)."""
    files = spark.readStream.format("binaryFile").schema(
        _BINARYFILE_SCHEMA
    ).load(path)
    return _parse_zip_files(files, max_payload)


def decode_zip_records(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
    max_payload: int | None = None,
) -> DataFrame:
    """Parse a BINARY COLUMN of zip archives — the columnar face
    (``read_zip`` is the whole-file one, same walker core), for
    archive-per-row feeds and the registry fixtures.  The id column
    keeps its name and type."""
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"`{id_col}` {id_type}, member_index long, member_name string, "
        "key string, ext string, size long, content binary, ok boolean"
    )

    def tails(raw: bytes):
        return tuple(t[1:] for t in _member_rows(None, raw, max_payload))

    return map_payloads(
        df, tails, out_schema, content_col, id_col,
        ((0, None, None, None, None, None, False),),
    )


def zip_encode(members: list, deflate: bool = False) -> bytes:
    """Deterministic zip writer — the fixture twin of
    ``iter_zip_members``: ``members`` is a list of (name, bytes);
    the timestamp pinned (zip's epoch, 1980-01-01) so archive bytes
    depend only on content.  ``deflate=True`` compresses members
    (same member rows — the compression-transparency claim)."""
    buf = io.BytesIO()
    method = zipfile.ZIP_DEFLATED if deflate else zipfile.ZIP_STORED
    with zipfile.ZipFile(buf, "w", method) as zf:
        for name, data in members:
            info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
            info.compress_type = method
            zf.writestr(info, data)
    return buf.getvalue()


def _zip_fixture_memo(build):
    from ..operators.multimodal import _fixture_memo

    return _fixture_memo(
        lambda d: (d % 6, d % 13 == 0, d % 17 == 0, d % 19 == 0)
    )(build)


@_zip_fixture_memo
def build_zip_blob(doc_id: int) -> bytes:
    """Zip shard fixture (memoized per worker on the reduced key, the
    r19 _fixture_memo pattern), the tar fixture's classes re-shipped as
    zip: class ``doc_id %% 6`` holds ``2 + cls %% 3`` samples, each a
    ``.jpg`` + ``.txt`` (+ ``.meta.json`` on even samples) with
    md5-stream bytes keyed (cls, sample, ext) — SAME keys and hashes
    as ``build_tar_blob``, so cross-source parity is checkable.
    ``doc_id %% 13 == 0`` ships DEFLATE-compressed (identical member
    rows — compression transparency); ``doc_id %% 19 == 0`` CORRUPTS
    one byte inside the FIRST member's stored data (that member alone
    flags ok=false — CRC catches it — and the walk continues: the
    central directory still locates the rest); ``doc_id %% 17 == 0``
    truncates at 2/3, destroying the trailing central directory →
    one flagged row, no members (zip's authority lives at the
    tail)."""
    import hashlib

    cls = doc_id % 6
    members = []
    for k in range(2 + cls % 3):
        for ext in (["jpg", "txt"] + (["meta.json"] if k % 2 == 0 else [])):
            seed = hashlib.md5(
                b"tar-%d-%d-%s" % (cls, k, ext.encode())
            ).digest()
            data = b"".join(
                hashlib.md5(seed + i.to_bytes(2, "big")).digest()
                for i in range(2 + k)
            )
            members.append((f"{cls:03d}/s{k}.{ext}", data))
    blob = zip_encode(members, deflate=(doc_id % 13 == 0))
    if doc_id % 17 == 0:
        return blob[: len(blob) * 2 // 3]
    if doc_id % 19 == 0:
        # flip one byte inside the first member's data region (local
        # header is 30 bytes + name; stored data follows), leaving
        # every boundary intact — only that member's CRC can tell
        pos = 30 + len(members[0][0]) + 3
        return blob[:pos] + bytes([blob[pos] ^ 0x5A]) + blob[pos + 1:]
    return blob


def attach_zip_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the zip shard fixture blobs."""
    return attach_blobs(df, build_zip_blob, id_col)
