"""Per-task decode-once-per-distinct-payload cache (r19 opt round;
hardened r20).

Every Arrow decode mapper in this package is a pure function of the
payload bytes, and real corpora are full of byte-identical blobs
(re-uploads, mirrors, boilerplate assets — the premise of the exact-
dedup operators).  Wrapping the per-payload computation in a bounded
per-task cache keyed on the payload's digest makes each distinct blob
decode once per task instead of once per row — the degenerate local
form of the optimization guide's "decide with small rows, move/decode
heavy bytes once" (§8) applied at the task level, plus per-task
heavyweight-state amortization per §4.5.

Scope discipline: callers construct the cache inside their
``mapInPandas`` ``run`` closure, so it is created per Spark task and
dies with it — nothing persists across queries, runs, or processes,
and results always derive from the payload bytes read this run.
Cached values must be immutable row tails (tuples/bytes/str), safe to
emit repeatedly.

r20 hardening (r19 ADVICE/VERDICT):

- **Key**: ``(blake2b-128(payload), len(payload))`` instead of md5.
  md5 collisions are practically constructible and these decoders run
  over untrusted corpora — two crafted payloads sharing an md5 would
  silently share one decode result (wrong text/hashes/ok flags in a
  validator).  blake2b is collision-resistant and benches within ~15%
  of md5 here; the length is belt-and-braces.  Pinned in
  ``tests/test_opt_r20.py`` with the published md5-colliding block
  pair.
- **Bound**: cumulative APPROXIMATE bytes of cached values
  (``max_bytes``, default 48 MB) in addition to the entry count.  The
  r19 entry-only bound let 1024 multi-MB decoded tails accumulate per
  task (warc/tar/zip tails retain whole decompressed payloads) —
  far outside the Arrow batch-sizing memory assumption.  On overflow
  the cache resets, as before.  A value whose own approximate size
  exceeds ``max_bytes`` is returned uncached: admitting it would hold
  the cache over budget and clear it on every later miss.
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
