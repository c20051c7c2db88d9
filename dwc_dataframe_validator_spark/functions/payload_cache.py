"""One guarded row-mapper for every payload decoder, plus the per-task
decode-once-per-distinct-payload cache it owns.

``map_payloads(df, fn, schema, content_col, id_col, bad, memo)`` is the
single ``mapInPandas`` face of the binary decoders (images, audio,
video, PDF, office documents, WARC/tar/zip records):

- ``fn(payload_bytes)`` returns a tuple of row TAILS — ``(row,)`` for a
  one-row decoder, any number of rows for a row-expanding one (frames,
  windows, members).  Each output row is ``(id, *tail)``, in the column
  order of ``schema``.
- **Failure contract.**  A NULL payload and any ``Exception`` raised by
  ``fn`` both emit the call site's ``bad`` tails, so one hostile or
  torn payload is a flagged row, never a failed task or query.
  Argument errors (an unknown mode, a non-positive window) are the
  caller's mistake, not the payload's: call sites raise them on the
  driver while the frame is built, before any row is mapped.
  A site keeps its own ``except`` only where it emits a row that
  differs from its ``bad`` row (a PDF ``reason`` string, a per-frame
  stub tier).
- **Cache.**  With ``memo=True`` the guarded ``fn`` is wrapped in
  ``payload_memo`` inside the task, so each distinct payload decodes
  once per task (bad results included); the cache is created per Spark
  task and dies with it — nothing persists across queries, runs or
  processes, and results always derive from the payload bytes read
  this run.  Cached values must be immutable row tails
  (tuples/bytes/str), safe to emit repeatedly.

``attach_blobs(df, build, id_col, out_schema)`` is the fixture twin:
``(id, build(id))`` per input row, for the in-repo ``build_*_blob``
encoders.

Cache key and bounds:

- **Key**: ``(blake2b-128(payload), len(payload))``.  md5 collisions
  are practically constructible and these decoders run over untrusted
  corpora — two crafted payloads sharing an md5 would silently share
  one decode result.  blake2b is collision-resistant and benches
  within ~15% of md5 here; the length is belt-and-braces.  Pinned in
  ``tests/test_opt_r20.py`` with the published md5-colliding block
  pair.
- **Bound**: cumulative APPROXIMATE bytes of cached values
  (``max_bytes``, default 48 MB) in addition to the entry count, so
  multi-MB decoded tails (warc/tar/zip tails retain whole decompressed
  payloads) cannot accumulate per task.  On overflow the cache resets.
  A value whose own approximate size exceeds ``max_bytes`` is returned
  uncached: admitting it would hold the cache over budget and clear it
  on every later miss.
- **Miss sentinel**: a private object, not ``None`` — a decode that
  legitimately returns None is cached like any other value instead of
  silently recomputing per row.
"""

from __future__ import annotations

import hashlib

_MISS = object()


def _approx_bytes(v) -> int:
    """Rough retained-size estimate for a cached row tail (primitives
    and nested tuples/lists only — the documented value contract).
    Exactness is not the point; the bound is a memory safety valve."""
    if v is None:
        return 16
    if isinstance(v, (bytes, bytearray, memoryview)):
        return len(v) + 48
    if isinstance(v, str):
        return 2 * len(v) + 56
    if isinstance(v, (tuple, list)):
        return 56 + sum(_approx_bytes(x) for x in v)
    return 32


def payload_memo(decode, maxsize: int = 1024,
                 max_bytes: int = 48 << 20):
    """Wrap a pure payload-bytes → row-tail(s) function with a cache
    keyed on ``(blake2b-128(payload), len)``, bounded both by entry
    count and by the approximate cumulative size of cached values.
    See module docstring for the contract."""
    cache: dict = {}
    held = 0

    def wrapped(payload: bytes):
        nonlocal held
        k = (
            hashlib.blake2b(payload, digest_size=16).digest(),
            len(payload),
        )
        hit = cache.get(k, _MISS)
        if hit is _MISS:
            hit = decode(payload)
            size = _approx_bytes(hit)
            if size > max_bytes:
                return hit
            if len(cache) >= maxsize or held >= max_bytes:
                cache.clear()
                held = 0
            cache[k] = hit
            held += size
        return hit

    return wrapped


def _struct(schema):
    """A DDL string or StructType as a StructType, parsed once on the
    driver (``mapInPandas`` would otherwise parse the DDL again)."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    if isinstance(schema, StructType):
        return schema
    return _parse_datatype_string(schema)


def map_payloads(df, fn, schema, content_col: str, id_col: str, bad,
                 memo: bool = True):
    """``(id, *tail)`` for every tail of ``fn(payload)``, per row of
    ``df`` — one ``mapInPandas`` over ``(id_col, content_col)``.  NULL
    payloads and payloads on which ``fn`` raises emit ``bad`` (a tuple
    of tails; ``()`` emits no row).  See the module docstring for the
    contract; ``memo`` and ``bad`` belong to the call site."""
    import pandas as pd
    from pyspark.sql import functions as F

    schema = _struct(schema)
    names = schema.fieldNames()

    def guarded(payload: bytes):
        try:
            return fn(payload)
        except Exception:  # noqa: BLE001 — a bad payload is a bad row
            return bad

    def run(batches):
        call = payload_memo(guarded) if memo else guarded
        for pdf in batches:
            rows = []
            for i, p in zip(pdf["id"], pdf["payload"]):
                for tail in (bad if p is None else call(bytes(p))):
                    rows.append((i, *tail))
            yield pd.DataFrame(rows, columns=names)

    return df.select(
        F.col(id_col).alias("id"), F.col(content_col).alias("payload")
    ).mapInPandas(run, schema)


def attach_blobs(df, build, id_col: str = "doc_id",
                 out_schema: str = "id long, content binary"):
    """``(id, build(id))`` per row of ``df`` — the fixture face of the
    ``build_*_blob`` encoders (production blobs come straight off a
    parquet binary column instead)."""
    import pandas as pd
    from pyspark.sql import functions as F

    out_schema = _struct(out_schema)
    id_name, content_name = out_schema.fieldNames()

    def run(batches):
        for pdf in batches:
            ids = pdf[id_col]
            yield pd.DataFrame(
                {id_name: ids, content_name: [build(int(i)) for i in ids]}
            )

    return df.select(F.col(id_col)).mapInPandas(run, out_schema)
