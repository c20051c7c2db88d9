"""Continuous corpus construction: a streaming source of documents
ingested slice-by-slice against the persisted fingerprint index.

Each micro-batch is one ingestion slice (operators/incremental.py):
screened against the corpus fingerprint store + bloom, survivors
materialized to a per-batch output directory, fingerprints and bloom
positions appended back to the index.  This is the streaming face of
the same O(slice)-per-slice design — a crawl feed or log tail becomes
a deduplicated corpus without ever rescanning the accumulated text.
Bloom/window geometry always comes from each index's ``_meta.json``
(operators/incremental.py) — a sink cannot be misconfigured into
probing with the wrong (k, m, w).

Replay safety (``foreachBatch`` is at-least-once) uses the standard
commit-marker recipe rather than in-process state, so it survives
driver restarts — stronger than the report sink's same-process guard
(streaming/report_sink.py):

1. compute survivors against the CURRENT store and overwrite
   ``{out}/batch_id=N`` — UNLESS that directory already exists with a
   ``_SUCCESS`` commit file, in which case it is read back as the
   authoritative survivor set (it was computed before the store
   absorbed this batch; recomputing NOW would find zero survivors and
   wipe it).  A directory without ``_SUCCESS`` is a torn write — the
   store cannot have absorbed the batch yet, so recomputing is exact;
2. append the survivor fingerprints + bloom positions to the index —
   re-appending rows that are already present cannot change any
   future screen (the anti-join and the bloom OR are idempotent in
   the VALUE domain; a replayed append costs at most one batch of
   duplicate store rows, never a wrong survivor set);
3. write the ``_commits/N`` marker LAST; a batch whose marker exists
   is skipped outright.

Every crash window is covered: before the survivors commit → exact
recompute; between commit and marker → survivors re-read from the
directory (the WAL), append replayed harmlessly; after the marker →
no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import incremental, sketch


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _exists(spark, path: str) -> bool:
    fs, hpath = _hadoop_fs(spark, path)
    return fs.exists(hpath)


def _touch(spark, path: str) -> None:
    fs, hpath = _hadoop_fs(spark, path)
    fs.create(hpath, True).close()


def ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    heldout_path: str | None = None,
    stats_path: str | None = None,
    source_col: str = "source",
    min_quality_logit: float | None = None,
    profile: bool = False,
    histograms: dict | None = None,
    hist_group_col: str | None = None,
) -> None:
    """One replay-safe ingestion step — the ``foreachBatch`` body,
    exposed for direct testing of the marker protocol.  With
    ``heldout_path`` the batch is decontaminated against the persisted
    heldout window index BEFORE dedup (the streaming face of
    ``incremental.ingest_slice_clean``): contaminated docs never enter
    the store or the survivors directory.  Decontamination is a pure
    deterministic filter, so it does not change the replay argument —
    a re-run filters to the same clean subset.

    With ``min_quality_logit`` the batch first passes the linear
    quality-model gate (operators/text.py ``model_quality_score``):
    documents scoring below the threshold never pay decontamination
    or fingerprint work and never enter the store — the full
    gate → decontaminate → dedup pipeline, per micro-batch.  The gate
    is a deterministic map-side projection+filter, so the replay
    argument is unchanged.

    With ``stats_path`` the batch also records its per-source
    dashboard slice (streaming/dashboards.py) over the RAW batch,
    before any filtering — slices are batch-id-keyed overwrites, so a
    replay rewrites identical content and the folded dashboards stay
    value-idempotent.  ``profile=True`` additionally writes the
    mergeable column-profile slice that ``profile_dashboard`` folds —
    opt-in, because it costs one extra full-batch aggregation + write
    per micro-batch."""
    spark = batch_df.sparkSession
    marker = f"{out_path}/_commits/{batch_id}"
    if _exists(spark, marker):
        return
    if batch_df.isEmpty():
        _touch(spark, marker)
        return
    if stats_path is not None:
        from .dashboards import record_batch_stats

        record_batch_stats(
            batch_df,
            batch_id,
            stats_path,
            heldout_path=heldout_path,
            text_col=text_col,
            id_col=id_col,
            source_col=source_col,
            profile=profile,
            histograms=histograms,
            hist_group_col=hist_group_col,
        )
    if min_quality_logit is not None:
        from ..operators.text import (
            QUALITY_MODEL_WEIGHTS,
            model_quality_score,
        )

        # pure map-side gate: score with the batch's other columns
        # passed through (keep_cols), filter, restore the original
        # column set — no join, no shuffle.  Batch columns that share
        # a name with the scorer's outputs (a stream carrying its own
        # precomputed quality_logit, say) are renamed around the
        # scorer instead of inheriting its collision ValueError.
        cols = batch_df.columns
        reserved = {n for n, _ in QUALITY_MODEL_WEIGHTS} | {
            "quality_logit", "quality_pred",
        }
        if text_col in reserved or id_col in reserved:
            raise ValueError(
                f"text_col/id_col may not use a scorer output name "
                f"({sorted(reserved)}) when min_quality_logit is set"
            )
        mapping = {c: f"_gate_{c}" for c in cols if c in reserved}
        gdf = batch_df
        for orig, tmp in mapping.items():
            gdf = gdf.withColumnRenamed(orig, tmp)
        gcols = gdf.columns
        scored = (
            model_quality_score(
                gdf, text_col=text_col, id_col=id_col,
                keep_cols=tuple(c for c in gcols if c != id_col),
            )
            .withColumn(
                "_gate_pass",
                F.col("quality_logit")
                >= F.lit(float(min_quality_logit)),
            )
            .select(*gcols, "_gate_pass")
        )
        if stats_path is not None:
            # materialize the scored batch ONCE so the gate slice and
            # the surviving rows both read it — without this the
            # scorer's regex pass runs twice per micro-batch (once per
            # consumer action)
            scored = scored.localCheckpoint(eager=True)
            # r9: per-batch gate slice for the cumulative dashboard
            # (streaming/dashboards.py quality_gate_dashboard) —
            # additive per-source arrived/kept counts from ONE
            # aggregation (a join on source was null-unsafe: a NULL
            # source's kept count silently read 0), batch-id-keyed
            # overwrite like every other slice
            src = mapping.get(source_col, source_col)
            (
                scored.groupBy(F.col(src).alias("source"))
                .agg(
                    F.count(F.lit(1)).cast("long").alias("n_in"),
                    F.count_if(F.col("_gate_pass"))
                    .cast("long")
                    .alias("n_kept"),
                )
                .write.mode("overwrite")
                .parquet(f"{stats_path}/gate/batch_id={batch_id}")
            )
        kept = scored.filter(F.col("_gate_pass")).select(*gcols)
        for orig, tmp in mapping.items():
            kept = kept.withColumnRenamed(tmp, orig)
        batch_df = kept.select(*cols)
    if heldout_path is not None:
        hw, hbits, hmeta = incremental.load_heldout_index(
            spark, heldout_path
        )
        hblob = sketch.bloom_pack_bytes(hbits, hmeta["m"])
        batch_df = incremental.decontaminate_batch(
            batch_df, hw, hblob,
            w=hmeta["w"], k=hmeta["k"], m=hmeta["m"],
            text_col=text_col, id_col=id_col,
        )

    batch_dir = f"{out_path}/batch_id={batch_id}"
    if _exists(spark, f"{batch_dir}/_SUCCESS"):
        # replay after a committed survivors write: the directory is
        # the WAL — recomputing against the possibly-updated store
        # would find zero survivors and wipe it
        survivors = spark.read.parquet(batch_dir)
    else:
        store, bits, meta = incremental.load_fingerprint_index(
            spark, index_path
        )
        blob = sketch.bloom_pack_bytes(bits, meta["m"])
        survivors = incremental.incremental_dedup(
            batch_df,
            store,
            bloom_blob=blob,
            k=meta["k"],
            m=meta["m"],
            text_col=text_col,
            id_col=id_col,
            prune_store_partitions=True,
        ).localCheckpoint(eager=True)
        survivors.write.mode("overwrite").parquet(batch_dir)
    new_store = (
        survivors.select("fingerprint")
        .distinct()
        .withColumn(
            "fp_bucket", incremental._fp_bucket(F.col("fingerprint"))
        )
    )
    incremental.save_fingerprint_index(
        new_store, index_path, mode="append"
    )
    _touch(spark, marker)


def crawl_survivors(
    batch_df: DataFrame,
    store: DataFrame,
    bloom_blob: bytes | None = None,
    k: int | None = None,
    m: int | None = None,
    record_col: str = "record",
    id_col: str = "id",
    gopher: dict | None = None,
    c4: dict | None = None,
    robots_rules=None,
    robots_agent: str = "*",
    prune_store_partitions: bool = False,
) -> DataFrame:
    """Survivors of one crawl slice of raw WARC records against a
    URL-key ``store`` (rows with a ``fingerprint`` column of
    md5(normalized url) hex): ``(doc_id, url, main_text, url_key)``.
    The pure per-slice body shared by the streaming sink
    (``crawl_batch``) and the registry's oracle-checked
    ``crawl_ingest_check`` — ONE code path, so the stream≡batch
    argument is structural, not coincidental.

    Chain: ``decode_warc_records_text`` (fused WARC parse + charset
    text decode, one Arrow pass — r20) → ``wet_main_content``
    (jusText; boilerplate-only pages dropped; the URL rides through
    as a carry column) → optional C4 line cleanup → optional Gopher
    document gate → batch-internal URL-variant collapse
    (``url_dedup_keepers``: min id per normalized URL, invalid URLs
    all kept) → bloom prescreen (when ``bloom_blob`` given, geometry
    k/m from the index meta) → anti-join against the store
    (partition-pruned on ``fp_bucket`` when the store is the
    persisted partitioned form and ``prune_store_partitions``).
    Invalid-URL rows carry a NULL ``url_key``, survive every screen,
    and must never be appended to the store (a NULL key never equals
    a store fingerprint, so the plain anti-join preserves them)."""
    from ..operators import web
    from ..sources.warc import decode_warc_records_text

    # r13: charset-aware payload decode (BOM > HTTP charset > meta >
    # UTF-8) replaces the blind CAST(payload AS STRING) — identical on
    # UTF-8/ASCII records, and the latin-1/Shift-JIS tail of a real
    # crawl stops turning into U+FFFD mojibake before the gates.
    # r20 opt (guide §4/§8): the parse and the text decode are FUSED
    # into one mapInPandas (decode_warc_records_text) and target_uri
    # rides through the jusText aggregation as a carry column — the
    # old decode_warc_records → decode_warc_payload_text chain shipped
    # every payload Python→JVM→Python and then JOINED back to the
    # parse output for the uri, re-evaluating the whole Python decode
    # lineage a second time (mapInPandas subtrees are opaque to
    # Spark's subplan reuse).  Row-identical by construction: same
    # parse and decode tails, and the carry key (url) is functionally
    # dependent on doc_id.
    # r20 opt (guide §2.5/§6): the fused decode AND the jusText
    # html/regex projection run map-side BEFORE the first window
    # exchange, so an under-split local scan serializes the whole
    # slice on one core.  spread_small_scan is adaptive (no-op on a
    # real corpus scan, no-op on streaming frames); consistent
    # same-session wins in 6/6 paired reps at sf0.1.  The r19 spread
    # experiment that lost 2x used the UN-fused chain, whose spread
    # multiplied two extra Python mapper evaluations.
    from ..operators.text import spread_small_scan

    parsed = decode_warc_records_text(
        spread_small_scan(batch_df.select(id_col, record_col), id_col),
        content_col=record_col,
        id_col=id_col,
    ).filter("ok")
    main = web.wet_main_content(
        parsed.select(
            F.col(id_col).alias("doc_id"),
            F.col("target_uri").alias("url"),
            "payload_text",
        ),
        carry=("url",),
    ).filter(F.col("main_text").isNotNull())
    kept = main.select("doc_id", "url", "main_text")
    if c4 is not None:
        from ..operators.text import c4_line_cleanup

        cleaned = c4_line_cleanup(
            kept.select("doc_id", "main_text"),
            text_col="main_text",
            **c4,
        )
        kept = kept.drop("main_text").join(
            cleaned.filter(~F.col("dropped")).select("doc_id", "main_text"),
            "doc_id",
        )
    if gopher is not None:
        from ..operators.text import gopher_quality_flags

        passed = gopher_quality_flags(
            kept.select("doc_id", "main_text"),
            text_col="main_text",
            **gopher,
        ).filter("gopher_pass")
        kept = kept.join(passed.select("doc_id"), "doc_id", "left_semi")
    if robots_rules is not None:
        # robots gate BEFORE URL dedup: a disallowed URL must not hold
        # a keeper slot (same ordering a batch release pass uses)
        kept = web.robots_filter(
            kept, robots_rules, agent=robots_agent, id_col="doc_id"
        )
    dedup = web.url_dedup_keepers(kept, url_col="url", id_col="doc_id")
    cand = dedup.withColumn(
        "url_key", F.md5(web.normalize_url(F.col("url")))
    )
    if bloom_blob is None:
        # r20 opt (guide §2.4): one left_anti join IS the
        # invalid ∪ (valid ⟕̸ store) split — a NULL url_key never
        # equals any store fingerprint, so invalid-URL rows survive
        # the anti-join unconditionally, exactly the survive-every-
        # screen contract.  The former filter/filter/union form
        # evaluated the whole keeper lineage twice (each filter
        # branch re-ran the Python decode + jusText + window chain —
        # mapInPandas subtrees are opaque to subplan reuse).
        return cand.join(
            store.select(F.col("fingerprint").alias("url_key")),
            "url_key",
            "left_anti",
        ).select(*cand.columns)
    # the collapsed keepers feed both bloom branches (and the
    # bucket collect) — materialize once, same as incremental_dedup
    cand = cand.localCheckpoint(eager=True)
    invalid = cand.filter(F.col("url_key").isNull())
    valid = cand.filter(F.col("url_key").isNotNull())
    hit = sketch.bloom_test_hex_bytes(F.col("url_key"), bloom_blob, k, m)
    candidates, negatives = valid.filter(hit), valid.filter(~hit)
    store_keys = store.select(F.col("fingerprint").alias("url_key"))
    if prune_store_partitions:
        buckets = [
            r["b"]
            for r in candidates.select(
                incremental._fp_bucket(F.col("url_key")).alias("b")
            )
            .distinct()
            .collect()  # bounded: ≤ 256 values
        ]
        store_keys = store.filter(
            F.col("fp_bucket").isin(buckets)
        ).select(F.col("fingerprint").alias("url_key"))
    fresh = candidates.join(store_keys, "url_key", "left_anti")
    return invalid.unionByName(negatives.unionByName(fresh))


def crawl_batch(
    batch_df: DataFrame,
    batch_id: int,
    url_index_path: str,
    out_path: str,
    record_col: str = "record",
    id_col: str = "id",
    gopher: dict | None = None,
    c4: dict | None = None,
    robots_rules=None,
    robots_agent: str = "*",
    stats_path: str | None = None,
) -> None:
    """One replay-safe step of the STREAMING CRAWL STACK — the
    ``foreachBatch`` body behind ``crawl_ingest_sink``, exposed for
    direct testing of the marker protocol (same recipe as
    ``ingest_batch``).  Each micro-batch is raw WARC record bytes:

      decode_warc_records → wet_main_content (jusText boilerplate
      removal; boilerplate-only pages dropped) → optional C4 line
      cleanup → optional Gopher document gate → batch-internal URL
      dedup (``url_dedup_keepers``: min id per normalized URL,
      invalid URLs all kept) → screen against the PERSISTED URL index
      (bloom prescreen + partition-pruned anti-join on
      md5(normalized url) — the same fingerprint-index machinery as
      content dedup, keyed on URLs) → survivors to
      ``{out}/batch_id=N`` → new URL keys appended to the index.

    This is the streaming face of the batch
    ``web_corpus_pipeline_v2`` composition up to the per-domain cap.
    The cap is deliberately NOT in the loop: its selection order is a
    corpus-global md5 shuffle, so a later batch can displace an
    earlier keeper — a retraction no append-only sink can express.
    Cap at finalization instead (``cap_per_domain`` over the
    accumulated survivors), which the stream≡batch pytest does.

    Cross-batch URL semantics: the keeper is the first BATCH a
    normalized URL appears in (min id within that batch).  For a
    crawl feed with monotone capture ids this equals the batch
    pipeline's global min-id keeper — the pin's ordering contract.
    The extraction tiers and both gates are deterministic map-side
    projections, so the replay argument of ``ingest_batch`` carries
    over unchanged: recompute-before-commit is exact, the survivors
    directory is the WAL afterwards, and re-appending URL keys cannot
    change any future screen."""
    spark = batch_df.sparkSession
    marker = f"{out_path}/_commits/{batch_id}"
    if _exists(spark, marker):
        return
    if batch_df.isEmpty():
        _touch(spark, marker)
        return

    batch_dir = f"{out_path}/batch_id={batch_id}"
    if _exists(spark, f"{batch_dir}/_SUCCESS"):
        survivors = spark.read.parquet(batch_dir)
    else:
        store, bits, meta = incremental.load_fingerprint_index(
            spark, url_index_path
        )
        blob = sketch.bloom_pack_bytes(bits, meta["m"])
        survivors = crawl_survivors(
            batch_df,
            store,
            bloom_blob=blob,
            k=meta["k"],
            m=meta["m"],
            record_col=record_col,
            id_col=id_col,
            gopher=gopher,
            c4=c4,
            robots_rules=robots_rules,
            robots_agent=robots_agent,
            prune_store_partitions=True,
        ).localCheckpoint(eager=True)
        survivors.write.mode("overwrite").parquet(batch_dir)

    if stats_path is not None:
        # per-batch DOMAIN slice over the (checkpointed) survivors —
        # the crawl stack's dashboard substrate: batch-id-keyed
        # overwrite, so a replay rewrites identical content and the
        # fold stays value-idempotent (the ingest-sink discipline)
        from ..operators import web
        from ..operators.text import token_count

        (
            survivors.withColumn(
                "domain",
                web.registrable_domain(
                    F.when(
                        web.url_is_valid(F.col("url")),
                        web.url_host(F.col("url")),
                    )
                ),
            )
            .groupBy("domain")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum(token_count(F.col("main_text")))
                .cast("long")
                .alias("n_tokens"),
            )
            .write.mode("overwrite")
            .parquet(f"{stats_path}/domains/batch_id={batch_id}")
        )

    new_keys = (
        survivors.filter(F.col("url_key").isNotNull())
        .select(F.col("url_key").alias("fingerprint"))
        .distinct()
        .withColumn(
            "fp_bucket", incremental._fp_bucket(F.col("fingerprint"))
        )
    )
    incremental.save_fingerprint_index(
        new_keys, url_index_path, mode="append"
    )
    _touch(spark, marker)


def image_survivors(
    batch_df: DataFrame,
    store: DataFrame,
    bloom_blob: bytes | None = None,
    k: int | None = None,
    m: int | None = None,
    content_col: str = "content",
    id_col: str = "id",
    prune_store_partitions: bool = False,
) -> DataFrame:
    """Survivors of one IMAGE slice against a dHash ``store`` (rows
    with a ``fingerprint`` column of 16-hex dHashes): ``(id, width,
    height, channels, ahash, dhash)`` — the multimodal sibling of
    ``crawl_survivors``, one shared code path between the streaming
    sink and the registry's oracle-checked ``image_ingest_check``.

    Chain: REAL pixel decode → perceptual hashes (undecodable blobs
    dropped — they have no pixels to dedup on; route them through
    byte-hash dedup) → batch-internal EXACT collapse (min id per
    dhash — re-hosted copies, the bulk of crawl image mass, collapse
    here) → bloom prescreen (when ``bloom_blob`` given; the dHash
    already has the 16 hex chars Kirsch-Mitzenmacher double hashing
    slices) → anti-join against the store (partition-pruned on
    ``fp_bucket`` when persisted+``prune_store_partitions``).

    Cross-batch semantics are EXACT-hash by design: banded near-dup
    clustering is order-dependent across batches (which member of an
    LSH component arrives first decides the keeper, and a later batch
    can merge two previously-separate components — a retraction no
    append-only sink can express), so the near-dup tier runs at
    FINALIZATION over the accumulated survivors
    (``image_phash_dedup``), exactly like the domain cap in the crawl
    stack."""
    from ..operators import multimodal

    hashes = multimodal.image_pixel_hashes(
        batch_df, content_col, id_col
    ).filter("ok")
    # min-id-per-dhash via groupBy + min_by(struct): partial
    # aggregation combines map-side, so a pathologically ubiquitous
    # image (a tracking pixel re-hosted billions of times) never
    # funnels into one hot window partition the way the previous
    # Window.partitionBy("dhash") row_number collapse did — the
    # aggregate form _hash_cluster already uses, same semantics
    keep_cols = [c for c in hashes.columns if c != "dhash"]
    cand = (
        hashes.groupBy("dhash")
        .agg(F.min_by(F.struct(*keep_cols), F.col(id_col)).alias("_r"))
        .select("dhash", *[F.col("_r")[c].alias(c) for c in keep_cols])
    )
    if bloom_blob is None:
        candidates, negatives = cand, None
    else:
        # the decode feeds both bloom branches — materialize once
        # (the _hash_cluster / incremental_dedup discipline)
        cand = cand.localCheckpoint(eager=True)
        hit = sketch.bloom_test_hex_bytes(F.col("dhash"), bloom_blob, k, m)
        candidates, negatives = cand.filter(hit), cand.filter(~hit)
    store_keys = store.select(F.col("fingerprint").alias("dhash"))
    if prune_store_partitions and bloom_blob is not None:
        buckets = [
            r["b"]
            for r in candidates.select(
                incremental._fp_bucket(F.col("dhash")).alias("b")
            )
            .distinct()
            .collect()  # bounded: ≤ 256 values
        ]
        store_keys = store.filter(
            F.col("fp_bucket").isin(buckets)
        ).select(F.col("fingerprint").alias("dhash"))
    fresh = candidates.join(store_keys, "dhash", "left_anti")
    out = fresh if negatives is None else negatives.unionByName(fresh)
    return out.select(
        "id", "width", "height", "channels", "ahash", "dhash"
    )


def image_ingest_batch(
    batch_df: DataFrame,
    batch_id: int,
    index_path: str,
    out_path: str,
    content_col: str = "content",
    id_col: str = "id",
) -> None:
    """One replay-safe step of cross-batch IMAGE dedup — the
    ``foreachBatch`` body behind ``image_ingest_sink``, same marker
    protocol as ``crawl_batch``/``ingest_batch``: skip if committed,
    recompute-before-commit via ``image_survivors`` (deterministic
    map-side decode + exact screens, so replay is exact), survivors
    to ``{out}/batch_id=N``, new dHashes appended to the persisted
    index.  Re-appending on replay cannot change a future screen
    (set semantics)."""
    spark = batch_df.sparkSession
    marker = f"{out_path}/_commits/{batch_id}"
    if _exists(spark, marker):
        return
    if batch_df.isEmpty():
        _touch(spark, marker)
        return
    batch_dir = f"{out_path}/batch_id={batch_id}"
    if _exists(spark, f"{batch_dir}/_SUCCESS"):
        survivors = spark.read.parquet(batch_dir)
    else:
        store, bits, meta = incremental.load_fingerprint_index(
            spark, index_path
        )
        blob = sketch.bloom_pack_bytes(bits, meta["m"])
        survivors = image_survivors(
            batch_df,
            store,
            bloom_blob=blob,
            k=meta["k"],
            m=meta["m"],
            content_col=content_col,
            id_col=id_col,
            prune_store_partitions=True,
        ).localCheckpoint(eager=True)
        survivors.write.mode("overwrite").parquet(batch_dir)
    new_keys = (
        survivors.select(F.col("dhash").alias("fingerprint"))
        .distinct()
        .withColumn(
            "fp_bucket", incremental._fp_bucket(F.col("fingerprint"))
        )
    )
    incremental.save_fingerprint_index(
        new_keys, index_path, mode="append"
    )
    _touch(spark, marker)


def image_ingest_sink(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    content_col: str = "content",
    id_col: str = "id",
    queryName: str = "image_ingest",
    checkpoint_path: str | None = None,
    trigger: dict | None = None,
):
    """Attach cross-batch image dedup to a stream of binary image
    blobs and return the started StreamingQuery — the multimodal
    sibling of ``crawl_ingest_sink``: real pixel decode, exact-dHash
    collapse within and across batches against the persisted dHash
    index at ``index_path`` (seed with ``save_fingerprint_index``
    over an empty frame).  Survivors land under
    ``{out_path}/batch_id=N``; run ``image_phash_dedup`` over the
    accumulated survivors at finalization for the near-dup tier (see
    ``image_survivors`` for why it cannot live in the loop)."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        image_ingest_batch(
            batch_df, batch_id, index_path, out_path,
            content_col=content_col, id_col=id_col,
        )

    writer = stream.writeStream.foreachBatch(body).queryName(queryName)
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    if trigger is None:
        trigger = {"availableNow": True}
    return writer.trigger(**trigger).start()


def crawl_ingest_sink(
    stream: DataFrame,
    url_index_path: str,
    out_path: str,
    record_col: str = "record",
    id_col: str = "id",
    queryName: str = "crawl_ingest",
    checkpoint_path: str | None = None,
    trigger: dict | None = None,
    gopher: dict | None = None,
    c4: dict | None = None,
    robots_rules=None,
    robots_agent: str = "*",
    stats_path: str | None = None,
):
    """Attach the streaming crawl stack to a stream of raw WARC
    records and return the started StreamingQuery (caller owns
    lifecycle) — ``corpus_ingest_sink``'s sibling for the web tier:
    jusText main content, optional Gopher/C4 gates, and cross-batch
    URL dedup against the persisted URL index at ``url_index_path``
    (seed it with ``save_fingerprint_index`` over an empty
    ``fingerprint string, fp_bucket int`` frame).  Survivors land
    under ``{out_path}/batch_id=N``; run ``cap_per_domain`` over the
    accumulated survivors at finalization (see ``crawl_batch`` for
    why the cap cannot live in the loop).  Default trigger drains
    available input and stops, same contract as
    ``corpus_ingest_sink``."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        crawl_batch(
            batch_df,
            batch_id,
            url_index_path,
            out_path,
            record_col=record_col,
            id_col=id_col,
            gopher=gopher,
            c4=c4,
            robots_rules=robots_rules,
            robots_agent=robots_agent,
            stats_path=stats_path,
        )

    writer = stream.writeStream.foreachBatch(body).queryName(queryName)
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    if trigger is None:
        trigger = {"availableNow": True}
    return writer.trigger(**trigger).start()


def corpus_ingest_sink(
    stream: DataFrame,
    index_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    queryName: str = "corpus_ingest",
    checkpoint_path: str | None = None,
    heldout_path: str | None = None,
    trigger: dict | None = None,
    stats_path: str | None = None,
    source_col: str = "source",
    min_quality_logit: float | None = None,
    profile: bool = False,
    histograms: dict | None = None,
    hist_group_col: str | None = None,
):
    """Attach the continuous-ingestion sink to a document stream and
    return the started StreamingQuery (caller owns lifecycle).  The
    index at ``index_path`` must exist (seed it with
    ``save_fingerprint_index`` — an empty corpus frame is a valid
    seed); survivors land under ``{out_path}/batch_id=N``.  Pass
    ``checkpoint_path`` so source progress (which files are consumed)
    survives restarts — the commit markers make the BATCH step
    restart-safe; the checkpoint makes the SOURCE restart-safe.

    ``trigger`` is passed through to ``writeStream.trigger`` (e.g.
    ``{"processingTime": "1 minute"}`` for a live feed).  The default
    ``{"availableNow": True}`` drains what is available and STOPS —
    right for tests and for cron-style catch-up ingestion; a
    continuously arriving feed needs a processing-time trigger or the
    caller must re-invoke the sink per drain cycle."""

    def body(batch_df: DataFrame, batch_id: int) -> None:
        ingest_batch(
            batch_df,
            batch_id,
            index_path,
            out_path,
            text_col=text_col,
            id_col=id_col,
            heldout_path=heldout_path,
            stats_path=stats_path,
            source_col=source_col,
            min_quality_logit=min_quality_logit,
            profile=profile,
            histograms=histograms,
            hist_group_col=hist_group_col,
        )

    writer = stream.writeStream.foreachBatch(body).queryName(queryName)
    if checkpoint_path is not None:
        writer = writer.option("checkpointLocation", checkpoint_path)
    if trigger is None:
        trigger = {"availableNow": True}
    return writer.trigger(**trigger).start()


def crawl_domain_dashboard(spark, stats_path: str) -> DataFrame:
    """Cumulative per-domain view folded from the crawl sink's
    batch-id-keyed domain slices: (domain, n_docs, n_tokens,
    n_batches_seen).  Cost ∝ slices × domains — never a rescan of
    survivor text.  This is the monitoring face behind the
    finalization ``cap_per_domain`` decision: a domain's share is
    visible while the crawl streams, the cap runs once at release."""
    slices = spark.read.parquet(f"{stats_path}/domains")
    return slices.groupBy("domain").agg(
        F.sum("n_docs").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_batches_seen"),
    )
