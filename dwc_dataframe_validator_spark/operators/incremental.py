"""Incremental corpus ingestion: dedup and decontaminate a SLICE
against persisted index artifacts instead of re-processing the corpus.

A 100 TB corpus is not built in one job — it is ingested in slices
(a crawl snapshot, a vendor drop, a day of logs).  Re-running global
dedup over corpus+slice for every slice costs O(corpus) per slice,
O(corpus²/slice) overall; the production pattern is to persist a
COMPACT artifact of the corpus once and screen each slice against it
at O(slice) cost:

- **Exact-dedup fingerprint store** — one 32-hex md5 per kept
  document (operators/text.py ``fingerprint``: whitespace-normalized,
  lowercased text), parquet PARTITIONED BY ``fp_bucket`` (first hex
  byte, 256 directories).  ~16 bytes/doc: a billion-document corpus
  is a ~30 GB store next to 100 TB of text.
- **Bloom bits over the store** — the same Kirsch-Mitzenmacher
  md5-grid filter as the decontamination screen
  (operators/sketch.py), persisted as set-bit positions.  Bloom
  union is bitwise OR, so the update path is append-only: new
  positions are appended and deduplicated on load.
- **``_meta.json``** — the index's GEOMETRY (k, m, window width w for
  heldout indexes, format version, bloom generation), written with
  the index and enforced on every load.  Probing a bloom with a
  different (k, m) than it was built with produces FALSE NEGATIVES —
  silently wrong survivor sets, the exact failure class this design
  exists to exclude — so geometry is never an argument the caller can
  get wrong: readers take it from the meta, and an explicitly passed
  value that disagrees raises instead of corrupting.

Screening a slice is then:

1. collapse the slice internally (first-per-fingerprint — one
   shuffle on the 16-byte key, slice-sized);
2. test each surviving fingerprint against the corpus bloom
   MAP-SIDE (one byte-packed filter literal in the probe expression
   — no join, no shuffle,
   no scan of the store);
3. only the bloom-POSITIVE residue (true duplicates + the controlled
   false-positive trickle, ~0.1% of novel docs at the default
   geometry) pays the exact anti-join against the store — and because
   positives carry ≤ 256 distinct ``fp_bucket`` values, the store
   scan is pruned to the touched partitions (``PartitionFilters``,
   pinned in tests) after a BOUNDED ≤ 256-row driver collect;
4. survivors (bloom-negatives + verified positives) append their
   fingerprints back to the store and their bit positions to the
   bloom — the artifacts stay current without a rewrite.

Bloom filters have no false negatives, so survivors are EXACTLY the
set the pure anti-join would produce — the bloom only changes how
much of the store is read.  That makes the whole operator
value-deterministic and lets the registry check
(``incremental_dedup_check``) sit behind an exact DuckDB oracle while
the persistence round-trip, append path, and partition pruning are
pinned in pytest.

Reference parity: none — the reference validator
(/root/reference/dwc_validator/validate.py) is single-archive,
single-pass; incremental ingestion extends the LLM-pipeline family
(SURVEY.md "beyond the reference" brief).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from . import sketch
from .text import fingerprint

#: bloom geometry defaults — k hash probes over m bits.  m must be a
#: power of two (km_positions relies on it) and sized ~14 bits per
#: expected distinct fingerprint for ~0.1% FP; at 100 TB you size m to
#: the corpus the same way BASELINE.md sizes IVF cells.
DEFAULT_K = 5
DEFAULT_M = 1 << 16

#: persisted-index format version, recorded in _meta.json so a future
#: layout change can be detected instead of misread
INDEX_FORMAT = 1


# ---------------------------------------------------------------------------
# filesystem + metadata plumbing (Hadoop FileSystem API — works on any
# FS Spark can reach, not just the local disk the tests use)
# ---------------------------------------------------------------------------


def _fs_path(spark: SparkSession, path: str):
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs_path(spark, path)
    return fs.exists(p)


def _write_small_file(spark: SparkSession, path: str, content: str) -> None:
    """Commit a tiny file via stage-then-rename: write ``<path>.tmp``
    fully, delete the destination, rename tmp into place.  HDFS-style
    renames are atomic; the one crash window (between delete and
    rename) leaves the .tmp, which ``_read_small_file`` falls back
    to — so a reader always sees a complete old or complete new file,
    never a torn one."""
    fs, dst = _fs_path(spark, path)
    jvm = spark._jvm
    tmp = jvm.org.apache.hadoop.fs.Path(path + ".tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(dst):
        fs.delete(dst, False)
    fs.rename(tmp, dst)


def _read_small_file(spark: SparkSession, path: str) -> str | None:
    """Read a ``_write_small_file`` artifact, falling back to the
    staged ``.tmp`` if the commit rename was interrupted.  Returns
    None when neither exists."""
    fs, p = _fs_path(spark, path)
    jvm = spark._jvm
    for cand in (p, jvm.org.apache.hadoop.fs.Path(path + ".tmp")):
        if fs.exists(cand):
            stream = fs.open(cand)
            try:
                return jvm.org.apache.commons.io.IOUtils.toString(
                    stream, "UTF-8"
                )
            finally:
                stream.close()
    return None


def write_index_meta(spark: SparkSession, path: str, meta: dict) -> None:
    _write_small_file(
        spark, f"{path}/_meta.json", json.dumps(meta, sort_keys=True)
    )


def read_index_meta(spark: SparkSession, path: str) -> dict:
    """The index's geometry record.  Raises (rather than assuming
    defaults) when missing: silently probing with guessed geometry is
    the bloom-false-negative footgun the meta exists to close."""
    raw = _read_small_file(spark, f"{path}/_meta.json")
    if raw is None:
        raise FileNotFoundError(
            f"no _meta.json under index path {path!r} — not a persisted "
            "index (or written by a pre-geometry version; re-save it "
            "with save_fingerprint_index / save_heldout_index)"
        )
    return json.loads(raw)


def _check_geometry(meta: dict, path: str, **given) -> None:
    """Raise when an explicitly passed geometry argument disagrees
    with what the index was built with.  ``None`` means "use the
    index's own value" and always passes."""
    for name, val in given.items():
        if val is not None and val != meta.get(name):
            raise ValueError(
                f"index at {path!r} was built with {name}={meta.get(name)}"
                f" but {name}={val} was requested — mismatched bloom "
                "geometry yields silent false negatives (wrong survivor "
                "sets); drop the argument to use the persisted geometry, "
                "or rebuild_bloom/re-save the index"
            )


def _require_pow2(m: int) -> None:
    if m <= 0 or (m & (m - 1)) != 0:
        raise ValueError(f"bloom m must be a power of two, got {m}")


def _bloom_tree(meta: dict) -> str:
    """The CURRENT bloom directory name.  ``rebuild_bloom`` writes
    each rebuild to a fresh generation directory and commits by
    meta swap, so the tree name is part of the geometry record."""
    gen = meta.get("bloom_gen", 0)
    return "bloom" if gen == 0 else f"bloom_g{gen}"


def _resolve_tree(spark: SparkSession, path: str, tree: str) -> str:
    """Crash-safe tree resolution: ``compact_index`` swaps trees via
    rename (dst → _old_<tree>; staged → dst), so a crash between the
    two renames leaves the data ONLY under ``_old_<tree>``.  Loads
    fall back to it, making a half-swapped store readable without
    manual repair; the next compaction (or any successful load-path
    write) restores the canonical name."""
    primary = f"{path}/{tree}"
    if _fs_exists(spark, primary):
        return primary
    fallback = f"{path}/_old_{tree}"
    if _fs_exists(spark, fallback):
        return fallback
    return primary


def _heal_tree(spark: SparkSession, path: str, tree: str) -> None:
    """Complete a crashed ``compact_index`` half-swap BEFORE a write
    lands: if the primary tree is missing but ``_old_<tree>`` exists,
    rename it back to the primary name.  ``_resolve_tree`` makes a
    half-swapped store READABLE, but an append that wrote to the
    missing primary would create a fresh tree holding only that
    slice's values — which ``_resolve_tree`` then prefers, silently
    shadowing the accumulated store until the next compaction deletes
    ``_old_<tree>`` and makes the loss permanent.  Every append-mode
    write path calls this first, so the swap is finished before any
    new data lands."""
    primary = f"{path}/{tree}"
    if _fs_exists(spark, primary):
        return
    fs, old = _fs_path(spark, f"{path}/_old_{tree}")
    if fs.exists(old):
        # Hadoop rename reports most failures via its RETURN VALUE,
        # not an exception — proceeding after a false would recreate
        # the silent-shadowing scenario this heal exists to prevent
        if not fs.rename(
            old, spark._jvm.org.apache.hadoop.fs.Path(primary)
        ):
            raise IOError(
                f"could not complete the half-swap heal: rename "
                f"{path}/_old_{tree} -> {primary} failed; refusing to "
                "append into a fresh tree that would shadow the "
                "accumulated store"
            )


def _fp_bucket(fp) -> F.Column:
    """Partition bucket = first hex byte of the digest (0..255).
    Derived from the fingerprint itself, so both engines and both
    sides of any join agree without storing anything extra."""
    return F.conv(F.substring(fp, 1, 2), 16, 10).cast("int")


def fingerprint_store(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The corpus's compact dedup artifact as a DataFrame:
    ``(fingerprint, fp_bucket)`` distinct.  One shuffle (the
    distinct); 16 bytes + 4 per kept document."""
    fps = (
        fingerprint(df, text_col, id_col)
        .select("fingerprint")
        .filter(F.col("fingerprint").isNotNull())
        .distinct()
    )
    return fps.withColumn("fp_bucket", _fp_bucket(F.col("fingerprint")))


def _append_bloom_checked(
    spark: SparkSession, path: str, values: DataFrame, col: str, meta: dict
) -> None:
    """Append ``values``'s bloom positions to the CURRENT-generation
    bloom tree, then re-read the meta and RETRY at the new geometry if
    a concurrent ``rebuild_bloom`` committed a new generation in the
    window — otherwise the appended fingerprints would be absent from
    the live filter (bloom false negatives, so those documents' future
    duplicates are silently admitted).  Positions written to a
    superseded generation directory are harmless: the rebuild deletes
    it, and readers only consult the tree the meta names.

    Residual window this re-check cannot close: a rebuild whose
    value-tree snapshot predates this append but whose meta swap lands
    after the re-read still drops the positions.  Maintenance
    operations (``rebuild_bloom``, ``compact_index``) therefore
    require NO concurrent ingest — single maintenance writer — as
    their docstrings state."""
    for _ in range(5):
        bits = sketch.bloom_build_hex(values, col, k=meta["k"], m=meta["m"])
        bits.write.mode("append").parquet(f"{path}/{_bloom_tree(meta)}")
        meta2 = read_index_meta(spark, path)
        if meta2.get("bloom_gen", 0) == meta.get("bloom_gen", 0):
            return
        meta = meta2
    raise RuntimeError(
        f"bloom generation at {path!r} kept changing during an append "
        "(a rebuild_bloom loop running concurrently?) — positions were "
        "written to every observed generation but the meta never "
        "settled; quiesce maintenance and re-run the append"
    )


def save_fingerprint_index(
    store: DataFrame,
    path: str,
    mode: str = "overwrite",
    k: int | None = None,
    m: int | None = None,
) -> None:
    """Persist the dedup artifact: the fingerprint store partitioned
    by ``fp_bucket``, the bloom set-bit positions, and the geometry
    meta (``_meta.json`` — k, m, format version, bloom generation).

    ``mode="append"`` is the update path — new fingerprints land in
    per-bucket files and new bloom positions are appended (bloom union
    = OR, so append + distinct-on-load is exact).  Appends take their
    geometry FROM the meta; passing k/m that disagree raises instead
    of appending positions the existing filter cannot contain."""
    spark = store.sparkSession
    if mode == "append":
        meta = read_index_meta(spark, path)
        _check_geometry(meta, path, k=k, m=m)
        k, m = meta["k"], meta["m"]
        _heal_tree(spark, path, "fingerprints")
        _heal_tree(spark, path, _bloom_tree(meta))
    else:
        k = DEFAULT_K if k is None else k
        m = DEFAULT_M if m is None else m
        _require_pow2(m)
        meta = {
            "format": INDEX_FORMAT,
            "kind": "fingerprint",
            "k": k,
            "m": m,
            "bloom_gen": 0,
        }
    store.write.partitionBy("fp_bucket").mode(mode).parquet(
        f"{path}/fingerprints"
    )
    if mode == "append":
        _append_bloom_checked(spark, path, store, "fingerprint", meta)
    else:
        bits = sketch.bloom_build_hex(store, "fingerprint", k=k, m=m)
        bits.write.mode(mode).parquet(f"{path}/{_bloom_tree(meta)}")
        write_index_meta(spark, path, meta)


def load_fingerprint_index(spark: SparkSession, path: str):
    """Reload ``save_fingerprint_index`` output: (store DataFrame —
    lazy, partition-prunable; the bloom set-bit positions frame —
    pack with ``sketch.bloom_pack_bytes`` before probing; the
    geometry meta dict — k/m MUST come from here, never from the
    caller's memory).

    Schemas are explicit so an EMPTY seed is a valid index: an empty
    partitioned write produces no data files, and schema inference
    would fail on them — but "start the corpus from nothing and let
    ingestion build it" is exactly the bootstrap the streaming sink
    documents."""
    meta = read_index_meta(spark, path)
    store = spark.read.schema("fingerprint string, fp_bucket int").parquet(
        _resolve_tree(spark, path, "fingerprints")
    )
    bits = (
        spark.read.schema("pos bigint")
        .parquet(_resolve_tree(spark, path, _bloom_tree(meta)))
        .distinct()
    )
    return store, bits, meta


def incremental_dedup(
    batch: DataFrame,
    store: DataFrame,
    bloom_blob: bytes | None = None,
    k: int = DEFAULT_K,
    m: int = DEFAULT_M,
    text_col: str = "text",
    id_col: str = "doc_id",
    prune_store_partitions: bool = False,
) -> DataFrame:
    """Survivors of ``batch`` against a corpus fingerprint ``store``:
    ``(id_col, fingerprint, batch_copies)`` — first-per-fingerprint
    within the batch (lowest id), minus fingerprints already in the
    store.  ``batch_copies`` is how many batch rows collapsed into the
    keeper.

    With ``bloom_blob`` (from ``sketch.bloom_pack_bytes`` over the
    store's bits — the one-literal packing; the word-list form's
    k*m/64 expression nodes blow up driver-side planning at large m),
    only bloom-positive keepers join the store; negatives
    short-circuit as definitely-new map-side.  Without it, every
    keeper joins — same rows either way (no false negatives), which is
    what the exact oracle checks.  k and m here MUST be the geometry
    the blob was packed with — path-based callers (``ingest_slice``)
    take them from the index meta.

    ``prune_store_partitions`` additionally collects the positives'
    distinct ``fp_bucket`` values (BOUNDED: ≤ 256 rows by
    construction) and pushes them as a partition filter on the store
    scan — only meaningful when the store is the persisted
    partitioned-parquet form."""
    fps = fingerprint(batch, text_col, id_col).select(id_col, "fingerprint")
    fps = fps.filter(F.col("fingerprint").isNotNull())
    w = Window.partitionBy("fingerprint")
    keep = (
        fps.withColumn(
            "batch_copies", F.count(F.lit(1)).over(w).cast("long")
        )
        .withColumn(
            "_rk", F.row_number().over(w.orderBy(F.col(id_col)))
        )
        .filter(F.col("_rk") == 1)
        .drop("_rk")
    )

    if bloom_blob is None:
        candidates, negatives = keep, None
    else:
        # the collapsed keepers feed BOTH bloom branches (and the
        # bucket collect below): checkpoint once so the slice-sized
        # collapse shuffle runs once, then both filters are map-side
        # passes over the materialized keepers
        keep = keep.localCheckpoint(eager=True)
        hit = sketch.bloom_test_hex_bytes(
            F.col("fingerprint"), bloom_blob, k, m
        )
        candidates = keep.filter(hit)
        negatives = keep.filter(~hit)

    if "fp_bucket" in store.columns:
        store_keyed = store.select("fingerprint", "fp_bucket")
    else:
        store_keyed = store.select(
            "fingerprint",
            _fp_bucket(F.col("fingerprint")).alias("fp_bucket"),
        )
    if prune_store_partitions and bloom_blob is not None:
        buckets = [
            r["fp_bucket"]
            for r in candidates.select(
                _fp_bucket(F.col("fingerprint")).alias("fp_bucket")
            )
            .distinct()
            .collect()  # bounded: fp_bucket has ≤ 256 values
        ]
        store_keyed = store_keyed.filter(F.col("fp_bucket").isin(buckets))

    fresh = candidates.join(
        store_keyed.select("fingerprint"), "fingerprint", "left_anti"
    )
    survivors = fresh if negatives is None else negatives.unionByName(fresh)
    return survivors.select(id_col, "fingerprint", "batch_copies")


def append_profile_slice(
    spark: SparkSession, path: str, df: DataFrame, slice_id: str
) -> None:
    """Persist one slice's mergeable profile state
    (operators/profile.py ``profile_state``) under the index at
    ``{path}/profiles`` — an append of |columns| rows per slice, so
    corpus-lifetime column profiles never rescan ingested data."""
    from .profile import profile_state

    profile_state(df, slice_id).write.mode("append").parquet(
        f"{path}/profiles"
    )


def corpus_profile(spark: SparkSession, path: str) -> DataFrame:
    """Corpus-lifetime column profile from the persisted per-slice
    states: read ``{path}/profiles``, merge algebraically
    (``merge_profile_states``), estimate distincts — cost ∝ slices ×
    columns, independent of corpus row count."""
    from .profile import merge_profile_states, profile_estimate

    states = spark.read.parquet(f"{path}/profiles")
    return profile_estimate(merge_profile_states(states))


def ingest_slice(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    k: int | None = None,
    m: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    profile: bool = False,
    slice_id: str | None = None,
) -> DataFrame:
    """The full per-slice ingestion step against a PERSISTED index:
    screen ``batch``, append the survivors' fingerprints and bloom
    positions back to the index, return the survivors (materialized —
    the append must not observe its own output).

    Geometry comes from the index's ``_meta.json``; k/m exist only so
    a caller asserting a particular geometry fails loudly on mismatch
    instead of probing a filter that cannot answer.

    This is the loop body of 100 TB corpus construction: each slice
    pays one slice-sized shuffle, one map-side bloom screen, and a
    store read pruned to the touched buckets — never a scan of the
    accumulated corpus text."""
    store, bits, meta = load_fingerprint_index(spark, path)
    _check_geometry(meta, path, k=k, m=m)
    k, m = meta["k"], meta["m"]
    blob = sketch.bloom_pack_bytes(bits, m)
    survivors = incremental_dedup(
        batch,
        store,
        bloom_blob=blob,
        k=k,
        m=m,
        text_col=text_col,
        id_col=id_col,
        prune_store_partitions=True,
    ).localCheckpoint(eager=True)
    new_store = survivors.select("fingerprint").distinct().withColumn(
        "fp_bucket", _fp_bucket(F.col("fingerprint"))
    )
    save_fingerprint_index(new_store, path, mode="append")
    if profile:
        # survivors are already materialized (localCheckpoint above),
        # so the profile pass re-reads the checkpoint, not the lineage
        if slice_id is None:
            import uuid

            slice_id = f"slice-{uuid.uuid4().hex[:12]}"
        append_profile_slice(spark, path, survivors, slice_id)
    return survivors


def save_heldout_index(
    heldout: DataFrame,
    path: str,
    w: int | None = None,
    k: int | None = None,
    m: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    mode: str = "overwrite",
) -> None:
    """Persist the decontamination artifact: the heldout/benchmark
    set's distinct w-token window fingerprints plus their bloom
    positions — what ``operators/pipeline.py span_contamination``
    derives inline, written once so every future slice reuses it.
    The geometry meta records (w, k, m); appends and probes take
    their values from it (a window width different from the one the
    index was built with would silently miss every overlap).

    ``mode="append"`` grows the suite (a new benchmark added to the
    heldout set) without rewriting: both trees are VALUE sets, so
    readers de-duplicate on load — ``load_heldout_index`` is the one
    sanctioned read path; a raw ``spark.read`` of the windows tree
    after appends would double-count overlapping windows in the
    verify join."""
    from .spans import window_fingerprints

    spark = heldout.sparkSession
    if mode == "append":
        meta = read_index_meta(spark, path)
        _check_geometry(meta, path, w=w, k=k, m=m)
        w, k, m = meta["w"], meta["k"], meta["m"]
        _heal_tree(spark, path, "windows")
        _heal_tree(spark, path, _bloom_tree(meta))
    else:
        w = 8 if w is None else w
        k = DEFAULT_K if k is None else k
        m = DEFAULT_M if m is None else m
        _require_pow2(m)
        meta = {
            "format": INDEX_FORMAT,
            "kind": "heldout",
            "w": w,
            "k": k,
            "m": m,
            "bloom_gen": 0,
        }
    hw = (
        window_fingerprints(heldout, id_col, text_col, w)
        .select("h")
        .distinct()
        .localCheckpoint()
    )
    hw.write.mode(mode).parquet(f"{path}/windows")
    if mode == "append":
        _append_bloom_checked(spark, path, hw, "h", meta)
    else:
        sketch.bloom_build_hex(hw, "h", k=k, m=m).write.mode(
            mode
        ).parquet(f"{path}/{_bloom_tree(meta)}")
        write_index_meta(spark, path, meta)


def load_heldout_index(spark: SparkSession, path: str):
    """Reload ``save_heldout_index`` output, de-duplicated (appends
    may overlap): (distinct window-fingerprint frame, distinct bloom
    set-bit positions frame, geometry meta).  Explicit schemas for
    the same empty-seed reason as ``load_fingerprint_index``."""
    meta = read_index_meta(spark, path)
    hw = (
        spark.read.schema("h string")
        .parquet(_resolve_tree(spark, path, "windows"))
        .distinct()
    )
    bits = (
        spark.read.schema("pos bigint")
        .parquet(_resolve_tree(spark, path, _bloom_tree(meta)))
        .distinct()
    )
    return hw, bits, meta


def screen_slice_contamination(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    w: int | None = None,
    k: int | None = None,
    m: int | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """``span_contamination`` of ``batch`` against a PERSISTED heldout
    index: same output contract ``(id_col, n_windows,
    candidate_windows, confirmed_windows)``, but the heldout side is
    two small parquet reads instead of a re-derivation — the slice
    pays its own scan plus the map-side bloom screen, nothing else.
    Window width and bloom geometry come from the index meta (passed
    values are mismatch assertions only).  Equality with the inline
    form is pinned in pytest."""
    hw, bits, meta = load_heldout_index(spark, path)
    _check_geometry(meta, path, w=w, k=k, m=m)
    w, k, m = meta["w"], meta["k"], meta["m"]
    blob = sketch.bloom_pack_bytes(bits, m)

    from .spans import window_fingerprints

    cw = window_fingerprints(batch, id_col, text_col, w)
    cand = cw.filter(sketch.bloom_test_hex_bytes(F.col("h"), blob, k, m))
    verified = cand.join(
        F.broadcast(hw.withColumn("_hit", F.lit(1))), "h", "left"
    )
    per_doc = verified.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("candidate_windows"),
        F.count("_hit").alias("confirmed_windows"),
    )
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    base = batch.select(
        F.col(id_col),
        F.when(
            F.col(text_col).isNull() | (F.trim(F.col(text_col)) == ""),
            F.lit(0),
        )
        .otherwise(F.size(toks))
        .cast("long")
        .alias("_n_tokens"),
    ).select(
        id_col,
        F.greatest(F.lit(0), F.col("_n_tokens") - F.lit(w) + 1)
        .cast("long")
        .alias("n_windows"),
    )
    return base.join(per_doc, id_col, "left").select(
        id_col,
        "n_windows",
        F.coalesce(F.col("candidate_windows"), F.lit(0))
        .cast("long")
        .alias("candidate_windows"),
        F.coalesce(F.col("confirmed_windows"), F.lit(0))
        .cast("long")
        .alias("confirmed_windows"),
    )


def _value_tree(meta: dict) -> tuple[str, str, bool]:
    """(tree name, value column, partitioned-by-bucket?) for the
    index kind — the one place the two layouts differ."""
    if meta.get("kind") == "heldout":
        return "windows", "h", False
    return "fingerprints", "fingerprint", True


def compact_index(
    spark: SparkSession, path: str, files_per_bucket: int = 1
) -> None:
    """Operational hygiene for the append-only store: every
    ``ingest_slice`` lands one small file per touched bucket (plus
    bloom-position rows), so N slices leave O(N·256) files — and at
    some point file-open overhead, not bytes, dominates the store
    scan.  Compaction rewrites each tree once: values de-duplicated
    (replayed appends may have left value-duplicates — harmless for
    correctness, wasted bytes) and coalesced; bloom positions
    distinct-ed into one file.  Works on either index kind (the
    heldout windows tree is unpartitioned, the fingerprint tree keeps
    its 256 ``fp_bucket`` partitions).

    Correctness is unchanged by construction (both trees are VALUE
    sets).  The rewrite stages into a sibling directory and swaps via
    two renames; a crash between them leaves the data under
    ``_old_<tree>``, which the loaders fall back to — so a crashed
    compaction is readable without manual repair, and the next
    append-mode write or compaction completes the swap
    (``_heal_tree``).

    SINGLE MAINTENANCE WRITER: run compaction with no concurrent
    ``ingest_slice``/``save_*_index(mode="append")`` — an append that
    lands between the snapshot read and the swap is deleted with the
    pre-compaction tree."""
    meta = read_index_meta(spark, path)
    tree, col, bucketed = _value_tree(meta)
    bloom = _bloom_tree(meta)
    if meta.get("kind") == "heldout":
        data, bits, _ = load_heldout_index(spark, path)
    else:
        data, bits, _ = load_fingerprint_index(spark, path)
    tmp = f"{path}/_compact_tmp"
    writer = data.distinct()
    if bucketed:
        (
            writer.repartition("fp_bucket")
            .coalesce(256 * files_per_bucket)
            .write.partitionBy("fp_bucket")
            .mode("overwrite")
            .parquet(f"{tmp}/{tree}")
        )
    else:
        writer.coalesce(files_per_bucket).write.mode("overwrite").parquet(
            f"{tmp}/{tree}"
        )
    bits.write.mode("overwrite").parquet(f"{tmp}/{bloom}")

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    for t in (tree, bloom):
        src = jvm.org.apache.hadoop.fs.Path(f"{tmp}/{t}")
        dst = jvm.org.apache.hadoop.fs.Path(f"{path}/{t}")
        fs = dst.getFileSystem(conf)
        old = jvm.org.apache.hadoop.fs.Path(f"{path}/_old_{t}")
        # order matters for crash-safety: the live copy (dst, or old
        # after a previous half-swap) is never deleted until the new
        # dst is in place — every crash window leaves dst or _old_<t>
        # readable, and _resolve_tree checks both
        if fs.exists(dst):
            if fs.exists(old):
                fs.delete(old, True)
            fs.rename(dst, old)
        fs.rename(src, dst)
        if fs.exists(old):
            fs.delete(old, True)
    fs.delete(jvm.org.apache.hadoop.fs.Path(tmp), True)


#: historical name — compaction originally existed only for the
#: fingerprint store; the generic form dispatches on the meta kind
compact_fingerprint_index = compact_index


def rebuild_bloom(
    spark: SparkSession,
    path: str,
    m_new: int | None = None,
    k_new: int | None = None,
) -> dict:
    """The ACTION behind ``index_stats``'s ``needs_bloom_resize``
    trigger: rebuild the bloom filter from the compact value tree
    (one pass over fingerprints/windows — never the corpus) at a
    larger geometry, and commit by meta swap.  Defaults to doubling
    m; returns the new meta.

    Crash-safe by ordering: the new filter is written COMPLETELY to a
    fresh generation directory (``bloom_g<n>``), then the meta —
    whose ``bloom_gen``/``m``/``k`` name that directory — is swapped
    via the staged-rename protocol of ``write_index_meta``.  A reader
    therefore always sees a (meta, bloom) pair built together: crash
    before the meta swap leaves the old pair live (the orphan
    directory is retried/cleaned next rebuild); there is no window
    where a filter is probed with geometry it wasn't built with.

    SINGLE MAINTENANCE WRITER: run rebuilds with no concurrent
    ingest.  Appends re-check the bloom generation after writing
    (``_append_bloom_checked``) which closes the commit-then-append
    window, but a rebuild whose value snapshot predates an in-flight
    append and whose meta swap lands after that append's re-check
    would still drop the append's positions from the live filter."""
    meta = read_index_meta(spark, path)
    m_new = (2 * meta["m"]) if m_new is None else m_new
    k_new = meta["k"] if k_new is None else k_new
    _require_pow2(m_new)
    tree, col, _ = _value_tree(meta)
    values = spark.read.schema(f"{col} string").parquet(
        _resolve_tree(spark, path, tree)
    )
    gen = meta.get("bloom_gen", 0) + 1
    new_tree = f"bloom_g{gen}"
    sketch.bloom_build_hex(values.distinct(), col, k=k_new, m=m_new).write.mode(
        "overwrite"
    ).parquet(f"{path}/{new_tree}")
    old_tree = _bloom_tree(meta)
    new_meta = {**meta, "k": k_new, "m": m_new, "bloom_gen": gen}
    write_index_meta(spark, path, new_meta)  # the commit point
    fs, old_path = _fs_path(spark, f"{path}/{old_tree}")
    if fs.exists(old_path):
        fs.delete(old_path, True)
    return new_meta


def decontaminate_batch(
    batch: DataFrame,
    heldout_windows: DataFrame,
    bloom_blob: bytes,
    w: int = 8,
    k: int = DEFAULT_K,
    m: int = DEFAULT_M,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The CLEAN subset of ``batch``: documents sharing NO w-token
    window with the heldout set survive.  Same screen as
    ``screen_slice_contamination`` but shaped as a filter — the bloom
    prescreen keeps the corpus-side cost one map-side scan, the exact
    broadcast verify kills bloom false positives, and only confirmed
    doc ids reach the anti-join.  Bloom has no false negatives, so the
    surviving SET is bloom-independent (exact-oracle-able).  When the
    heldout side comes from a persisted index, (w, k, m) must be the
    loaded meta's values — the path-based wrappers enforce that."""
    from .spans import window_fingerprints

    cw = window_fingerprints(batch, id_col, text_col, w)
    cand = cw.filter(
        sketch.bloom_test_hex_bytes(F.col("h"), bloom_blob, k, m)
    )
    dirty = (
        cand.join(F.broadcast(heldout_windows.select("h")), "h")
        .select(id_col)
        .distinct()
    )
    return batch.join(dirty, id_col, "left_anti")


def ingest_slice_clean(
    spark: SparkSession,
    index_path: str,
    heldout_path: str,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The composed per-slice loop body: decontaminate against the
    persisted heldout index, THEN dedup against the persisted
    fingerprint store and grow it — slice in, clean novel survivors
    out, both artifacts current.  Each index supplies its OWN
    geometry from its meta (they need not match).  Decontamination
    runs first so dropped documents never pay fingerprint work and
    never enter the store — the store stays a registry of CLEAN text
    only, which is what later slices should dedup against."""
    hw, hbits, hmeta = load_heldout_index(spark, heldout_path)
    blob = sketch.bloom_pack_bytes(hbits, hmeta["m"])
    clean = decontaminate_batch(
        batch, hw, blob,
        w=hmeta["w"], k=hmeta["k"], m=hmeta["m"],
        text_col=text_col, id_col=id_col,
    )
    return ingest_slice(
        spark, index_path, clean, text_col=text_col, id_col=id_col
    )


def index_stats(spark: SparkSession, path: str) -> dict:
    """Health report for a persisted index (either kind — the
    fingerprint store or the heldout window index share the layout:
    a value tree plus bloom bits plus geometry meta) — the numbers
    that trigger maintenance:

    - ``n_values`` (distinct) and ``n_rows`` (with append
      duplicates): a widening gap says run ``compact_index``;
    - ``bloom_fill_ratio`` = set bits / m and the implied
      ``bloom_fp_rate`` ≈ fill^k: the docstrings' "size m to the
      corpus" contract, measured — past ~50% fill the FP trickle
      stops being a trickle and ``rebuild_bloom`` should double m
      (one pass over the compact value tree, never the corpus);
    - ``max_bucket_skew`` = largest bucket / mean over the 256
      md5-derived buckets (first hex byte — computed for both kinds;
      only the fingerprint tree is physically partitioned by it):
      should sit near 1.0; drift says the inputs are degenerate.

    Driver-side result (a handful of scalars from two aggregates) —
    this is a monitoring probe, not a data path."""
    meta = read_index_meta(spark, path)
    tree, col, _ = _value_tree(meta)
    k, m = meta["k"], meta["m"]
    data = spark.read.schema(f"{col} string").parquet(
        _resolve_tree(spark, path, tree)
    )
    bits = (
        spark.read.schema("pos bigint")
        .parquet(_resolve_tree(spark, path, _bloom_tree(meta)))
        .distinct()
    )
    row = data.agg(
        F.count(F.lit(1)).alias("rows"),
        F.countDistinct(col).alias("vals"),
    ).collect()[0]
    n_rows, n_vals = row["rows"], row["vals"]
    n_bits = bits.count()
    per_bucket = (
        data.groupBy(_fp_bucket(F.col(col)).alias("_b"))
        .count()
        .agg(F.max("count"))
        .collect()
    )[0][0]
    mean_bucket = n_rows / 256 if n_rows else 0
    fill = n_bits / m
    return {
        "kind": meta.get("kind", "fingerprint"),
        "k": k,
        "m": m,
        "n_rows": n_rows,
        "n_values": n_vals,
        # historical aliases for the fingerprint-store probe
        "n_fingerprints": n_vals,
        "duplicate_rows": n_rows - n_vals,
        "bloom_set_bits": n_bits,
        "bloom_fill_ratio": fill,
        "bloom_fp_rate": fill**k,
        "max_bucket_skew": (per_bucket / mean_bucket) if mean_bucket else 0.0,
        "needs_compaction": n_rows > 1.2 * n_vals if n_vals else False,
        "needs_bloom_resize": fill > 0.5,
    }


#: historical name — the stats probe originally existed only for the
#: fingerprint store; the generic form dispatches on the meta kind
fingerprint_index_stats = index_stats


def corpus_diff_stats(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Content-level diff of two corpus snapshots — the review step of
    iterative dataset building ("what did this recipe change?"):
    distinct normalized-text fingerprints classified as ``added``
    (new only), ``removed`` (old only), or ``retained`` (both), with
    the DOCUMENT count each class carries on its relevant side (new
    for added/retained, old for removed).

    Scale shape: one fingerprint projection + grouped count per side
    (the same hash-aggregate as exact dedup — no pairs), then a
    full-outer join on the fingerprint.  Output cardinality is 3; the
    join is fingerprint-keyed and shuffles each side once.  Nothing
    driver-side, nothing quadratic — two 50 TB snapshots diff at the
    cost of deduping each once."""
    from .text import fingerprint as _fp

    def side(df, label):
        return (
            _fp(df, text_col, id_col)
            .filter(F.col("fingerprint").isNotNull())
            .groupBy("fingerprint")
            .agg(F.count(F.lit(1)).alias(f"_docs_{label}"))
        )

    o, n = side(old, "old"), side(new, "new")
    j = o.join(n, "fingerprint", "full_outer")
    status = (
        F.when(F.col("_docs_old").isNull(), F.lit("added"))
        .when(F.col("_docs_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("retained"))
    )
    relevant_docs = F.when(
        F.col("_docs_new").isNotNull(), F.col("_docs_new")
    ).otherwise(F.col("_docs_old"))
    return (
        j.select(status.alias("status"), relevant_docs.alias("_docs"))
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_fingerprints"),
            F.sum("_docs").cast("long").alias("n_docs"),
        )
    )


def corpus_added(
    old: DataFrame,
    new: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The NEW snapshot's novel content as keeper documents: first
    (lowest-id) new-side document of every fingerprint absent from the
    old snapshot — what an incremental re-train actually consumes.

    Deliberately NOT a delegation to ``incremental_dedup``, because
    the operation orders differently for its data shape: that
    operator collapses a SLICE first (slice ≪ store, so the window is
    cheap and feeds the bloom screen), whereas here ``new`` is a full
    snapshot that is MOSTLY RETAINED — so the anti-join runs FIRST,
    and the keeper window sorts only the novel residue (the few
    percent that changed), not the whole snapshot.  ``left_anti`` on
    the fingerprint removes whole fingerprint groups, so filtering
    before the per-fingerprint window is semantics-preserving."""
    from .text import fingerprint as _fp

    old_fps = (
        _fp(old, text_col, id_col)
        .filter(F.col("fingerprint").isNotNull())
        .select("fingerprint")
        .distinct()
    )
    novel = (
        _fp(new, text_col, id_col)
        .filter(F.col("fingerprint").isNotNull())
        .join(old_fps, "fingerprint", "left_anti")
    )
    w = Window.partitionBy("fingerprint").orderBy(id_col)
    return (
        novel.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
