"""Plan-shape regression guards: the optimizations the round-3 plan
audit established (single-shuffle aggregates, one token pass for
tf-idf, broadcast contamination guard) must not silently regress.
Counts come from the pre-execution formatted plan's numbered nodes —
stable across AQE re-planning, which only rewrites at runtime."""

import re

from dwc_dataframe_validator_spark.registry import QUERIES

SF = "/root/testdata/sf0.001"


def _nodes(spark, name):
    df = QUERIES[name](spark, SF)
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    return re.findall(r"^\(\d+\) (\S+)", plan, flags=re.MULTILINE)


def test_single_shuffle_aggregates(spark):
    # one Exchange: the groupBy itself — anything more means a stray
    # repartition or join crept in
    for name in ("user_event_sequences", "quantiles_by_event_type"):
        nodes = _nodes(spark, name)
        assert nodes.count("Exchange") == 1, (name, nodes)


def test_training_corpus_prep_one_wide_stage(spark):
    nodes = _nodes(spark, "training_corpus_prep")
    # the fingerprint-dedup window is the pipeline's ONLY shuffle; the
    # quality gate and sample stay map-side
    assert nodes.count("Exchange") == 1, nodes
    # rank pushdown keeps per-partition state bounded before the shuffle
    assert "WindowGroupLimit" in nodes


def test_tfidf_single_token_pass(spark):
    nodes = _nodes(spark, "text_tfidf_top_terms")
    # one corpus scan for the explode + one tiny scan for the doc count;
    # a third means the dfreq branch re-reads the corpus again
    assert nodes.count("Scan") == 2, nodes


def test_vocab_top_terms_is_topk_not_sort(spark):
    nodes = _nodes(spark, "text_vocab_top_terms")
    # orderBy().limit() must plan TakeOrderedAndProject, never a global Sort
    assert "TakeOrderedAndProject" in nodes and "Sort" not in nodes, nodes


def test_df_cap_is_in_plan_no_driver_job(spark):
    # the shingle-df cap must come from a one-row in-plan aggregate:
    # BUILDING the guarded operators may not run any Spark job (the old
    # formulation ran docs.count() on the driver first).  Tables are
    # pre-loaded outside the job group — parquet schema inference runs
    # its own job and isn't what this guards.
    from dwc_dataframe_validator_spark.operators import text
    from dwc_dataframe_validator_spark.operators.pipeline import (
        ngram_contamination,
    )
    from dwc_dataframe_validator_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    sc = spark.sparkContext
    sc.setJobGroup("plan-build-cap", "plan construction")
    cap = text.df_cap_frame(docs)
    text.jaccard_top_neighbor(docs, n=2, max_shingle_df=cap)
    ngram_contamination(
        docs.filter("doc_id % 2 = 0"),
        docs.filter("doc_id % 2 = 1"),
        threshold=0.5,
        max_shingle_df=cap,
    )
    jobs = sc.statusTracker().getJobIdsForGroup("plan-build-cap")
    sc.setJobGroup(None, None)
    assert jobs == [], jobs


def test_contamination_reuses_shingle_exchange(spark):
    # the union's shingle shuffle backbone is computed once and shared
    # across consumers — no caches needed.  AQE inserts ReusedExchange
    # at runtime, so assert on the FINAL adaptive plan after execution.
    df = QUERIES["contamination_hits"](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().toString()
    phys = plan[plan.index("== Physical Plan =="):]
    assert "isFinalPlan=true" in phys
    assert phys.count("ReusedExchange") >= 1, phys[:2000]


def test_packing_reuses_bucket_partitioning(spark):
    # pack window shuffles on pack_bucket ONCE; both stats aggregations
    # must pick that partitioning up (grouping keys are prefixed by it)
    nodes = _nodes(spark, "sequence_packing_stats")
    assert nodes.count("Exchange") == 1, nodes


def test_manifest_reuses_bucket_partitioning(spark):
    # the sequence manifest groups by (pack_bucket, pack_seq): the
    # window's pack_bucket hash partitioning satisfies that clustering,
    # so materialization adds NO exchange beyond the bucket shuffle
    nodes = _nodes(spark, "packed_sequences_manifest")
    assert nodes.count("Exchange") == 1, nodes


def test_corpus_pack_end_to_end_three_shuffles(spark):
    # five pipeline stages, exactly three wide ops: fingerprint-dedup
    # window, pack-bucket window (sample is a map-side filter between
    # them) — the packing aggregations reuse the bucket partitioning
    nodes = _nodes(spark, "corpus_pack_end_to_end")
    assert nodes.count("Exchange") == 2, nodes


def test_map_side_model_and_quantization(spark):
    # model scoring and quantization are scan-speed projections: no
    # exchange anywhere in either plan
    for name in ("quality_model_scores", "embedding_quantization"):
        nodes = _nodes(spark, name)
        assert nodes.count("Exchange") == 0, (name, nodes)


# The driver's correctness gate verifies only the FIRST 50 registry
# entries (its per-round window).  Ordering is append-only by policy
# since round 4; this pin makes an accidental insertion — which would
# silently evict a driver-verified query from the window, as nearly
# happened in round 3 — a test failure instead of a silent coverage
# loss.  Changing the window is a deliberate one-line edit HERE plus
# the registry, never a side effect.
DRIVER_WINDOW = [
    "q1_pricing_summary",
    "a2_column_counts",
    "a10_vocab_membership",
    "p8_json_extract",
    "occurrence_validation_metrics",
    "occurrence_full_metrics",
    "fk_orders_customer",
    "dwca_archive_profile",
    "dwca_orphan_multimedia",
    "p4_range_filter",
    "p6_membership_filter",
    "a1_record_count",
    "a8_a9_distinct_duplicates",
    "a13_date_parts",
    "a14_offender_sample",
    "q_nation_revenue",
    "fk_lineitem_orders",
    "http_content_encoding_check",
    "dedup_clusters",
    "pdf_token_stats_check",
    "text_quality",
    "text_language_id_v2",
    "docx_text_check",
    "quarantine_counts",
    "a5_group_populated",
    "salted_event_type_counts",
    "pdf_text_check",
    "a11_value_histogram",
    "contamination_hits",
    "training_corpus_prep",
    "ann_cosine_topk_arrow",
    "a4_range_count",
    "annotate_row_errors",
    "stream_window_counts",
    "sessionize",
    "numeric_profile",
    "asof_purchase_last_click",
    "range_join_event_sessions",
    "image_ingest_finalize_check",
    "mp3_frame_hash_check",
    "pdf_cid_text_check",
    "jsonl_source_profile",
    "audio_aligned_dedup_clusters",
    "pdf_image_hash_check",
    "a12_top_k",
    "cross_container_audio_dedup_check",
    "xlsx_text_check",
    "tiff_pixel_hash_check",
    "window_running_totals",
    "office_corpus_token_check",
]


def test_driver_window_is_frozen():
    from dwc_dataframe_validator_spark import registry

    # the registry now carries the window as an explicit name list
    # (registry.DRIVER_WINDOW, round 13); this test is the independent
    # mirror — BOTH the registry's declared window and the actual dict
    # order the driver samples must equal the literal pin above
    assert list(registry.DRIVER_WINDOW) == DRIVER_WINDOW
    assert list(registry.QUERIES)[:50] == DRIVER_WINDOW


def test_every_driver_window_query_is_oracled():
    """Everything inside the verified window must have an exact oracle
    — a window slot spent on a rows-only check is a wasted slot."""
    from dwc_dataframe_validator_spark import registry

    missing = [k for k in DRIVER_WINDOW if k not in registry.ORACLES]
    assert not missing, missing


def test_trained_cells_assignment_is_map_side(spark):
    """The scale claim of trained_cells: once the (tiny) centroids are
    driver-side, assignment adds NO shuffle — the returned frame is
    scan + projection (fold backend) or scan + Arrow map (arrow
    backend).  An Exchange here would mean the n×k assignment work
    got shuffled, which is exactly what the design avoids."""
    from dwc_dataframe_validator_spark.operators.similarity import trained_cells
    from dwc_dataframe_validator_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    for backend in ("fold", "arrow"):
        out = trained_cells(emb, n_cells=10, backend=backend)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, (backend, plan[:500])


def test_spread_small_scan_is_noop_on_wide_input(spark):
    """spread_small_scan's contract: repartition ONLY a degenerate
    under-split scan.  An input already at defaultParallelism must
    pass through with NO Exchange (on a real cluster the scan has
    plenty of splits and the repartition would shuffle the raw text);
    a single-partition input must gain exactly one round-robin-by-key
    Exchange to defaultParallelism."""
    from dwc_dataframe_validator_spark.operators.text import spread_small_scan

    par = spark.sparkContext.defaultParallelism
    wide = spark.range(0, 100, 1, par).selectExpr("id AS doc_id", "'x' AS text")
    out = spread_small_scan(wide, "doc_id")
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()

    narrow = spark.range(0, 100, 1, 1).selectExpr("id AS doc_id", "'x' AS text")
    spread = spread_small_scan(narrow, "doc_id")
    assert spread.rdd.getNumPartitions() == par


def test_split_count_memo_exact_key_and_bound(spark, tmp_path):
    """The split-count memo keys on the scan's file tuple itself plus
    the parallelism and both file-split settings, so a session whose
    split settings change re-probes instead of reading a stale count;
    it clears once it holds its maximum number of entries."""
    from dwc_dataframe_validator_spark.operators import text as T

    path = str(tmp_path / "scan")
    spark.range(0, 4000, 1, 1).selectExpr(
        "id AS doc_id", "repeat('x', 200) AS text"
    ).write.parquet(path)
    saved = dict(T._SPLIT_COUNT_MEMO)
    old_max = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        T._SPLIT_COUNT_MEMO.clear()
        df = spark.read.parquet(path)
        files = tuple(df.inputFiles())
        T.spread_small_scan(df, "doc_id")
        (key,) = T._SPLIT_COUNT_MEMO
        assert key[:2] == (files, spark.sparkContext.defaultParallelism)
        assert T._SPLIT_COUNT_MEMO[key] == 1
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1k")
        df = spark.read.parquet(path)
        T.spread_small_scan(df, "doc_id")
        assert len(T._SPLIT_COUNT_MEMO) == 2  # new settings, new probe
        (key2,) = set(T._SPLIT_COUNT_MEMO) - {key}
        assert T._SPLIT_COUNT_MEMO[key2] == df.rdd.getNumPartitions() > 1

        T._SPLIT_COUNT_MEMO.clear()
        T._SPLIT_COUNT_MEMO.update(
            {("f%d" % i,): 1 for i in range(T._SPLIT_COUNT_MEMO_MAX)}
        )
        T.spread_small_scan(df, "doc_id")
        assert list(T._SPLIT_COUNT_MEMO) == [key2]  # cleared, then stored
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old_max)
        T._SPLIT_COUNT_MEMO.clear()
        T._SPLIT_COUNT_MEMO.update(saved)


def test_incremental_dedup_screen_plan_shape(spark):
    """incremental_dedup's bloom path must plan as: checkpointed
    keepers → map-side bloom filters (no Exchange above them) → the
    bloom-NEGATIVE branch unioned directly, and only the POSITIVE
    branch paying an anti-join against the store.  One binary blob
    literal per probe, never a per-word literal array (the round-6
    planning-blowup finding)."""
    from dwc_dataframe_validator_spark.operators.incremental import (
        fingerprint_store,
        incremental_dedup,
    )
    from dwc_dataframe_validator_spark.operators import sketch

    docs = spark.createDataFrame(
        [(i, f"doc {i} text") for i in range(20)], "doc_id long, text string"
    )
    store = fingerprint_store(docs.filter("doc_id < 10")).localCheckpoint()
    blob = sketch.bloom_pack_bytes(
        sketch.bloom_build_hex(store, "fingerprint", k=5, m=1 << 16), 1 << 16
    )
    out = incremental_dedup(docs.filter("doc_id >= 10"), store, bloom_blob=blob)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Union" in plan and "LeftAnti" in plan, plan[:400]
    # the bloom-NEGATIVE branch (the bulk of a novel-heavy slice)
    # short-circuits to the Union with NO shuffle: only the positive
    # residue may pay join exchanges (broadcast when the store is
    # small, shuffled anti-join on fingerprint when it is not)
    import re

    lines = plan.splitlines()
    union_at = next(i for i, ln in enumerate(lines) if "Union" in ln)
    # the first Union child is printed ":-" at some column S; its
    # subtree keeps ":" at column S until the last child's "+-"
    head = lines[union_at + 1]
    col = head.index(":-")
    assert head.lstrip().startswith(":-"), head
    first_branch = [head]
    for ln in lines[union_at + 2:]:
        if len(ln) <= col or ln[col] != ":":
            break
        first_branch.append(ln)
    assert not any("Exchange" in ln for ln in first_branch), first_branch
    # any non-broadcast exchange in the join branch must be on the
    # join key (fingerprint), never a re-shuffle of the raw batch
    for ln in lines:
        m = re.search(r"Exchange hashpartitioning\((\w+)#", ln)
        if m:
            assert m.group(1) == "fingerprint", ln
    # the filter embeds the packed bytes, not a 1024-element array
    assert re.search(r"0x[0-9A-Fa-f]{1000,}", plan), "no blob literal"
    assert not re.search(r"\[-?\d+(,-?\d+){100,}\]", plan), "word-array literal leaked"


def test_token_budget_selection_no_global_sort(spark):
    """The two-phase selection's whole point: the bulk of the corpus
    is selected by a map-side bucket filter, and the ONLY sort in the
    plan is the running-sum window over the boundary bucket — never a
    global sort of the full frame."""
    from dwc_dataframe_validator_spark.operators.selection import (
        select_token_budget,
    )

    df = spark.range(0, 500).selectExpr(
        "id AS doc_id",
        "CAST(pmod(id * 37, 100) AS DOUBLE) / 100.0 AS score",
        "CAST(5 + pmod(id, 7) AS BIGINT) AS tokens",
    )
    out = select_token_budget(df, 800, "score", "tokens")
    plan = out._jdf.queryExecution().executedPlan().toString()
    sorts = [ln for ln in plan.splitlines() if "Sort " in ln]
    assert len(sorts) == 1, plan[:600]
    # and that sort sits above a boundary-bucket Filter, i.e. the
    # full-inclusion branch reaches the Union unsorted
    assert "Union" in plan


def _naive_group_prefix(rows, budgets):
    """Reference semantics: per group, the maximal (score DESC,
    id ASC) prefix with cumulative tokens <= the group's budget."""
    want = set()
    by_g = {}
    for r in rows:
        if r["score"] is None or r["tokens"] is None:
            continue
        by_g.setdefault(r["grp"], []).append(r)
    for g, members in by_g.items():
        if g not in budgets:
            continue
        members.sort(key=lambda r: (-r["score"], r["doc_id"]))
        run = 0
        for r in members:
            if run + r["tokens"] <= budgets[g]:
                run += r["tokens"]
                want.add(r["doc_id"])
            else:
                break
    return want


def test_token_budget_by_group_float_tokens_and_plan(spark):
    """ADVICE r7 (low): the broadcast bounds schema hardcoded
    `_remaining long`, so a floating-point tokens column made
    createDataFrame raise a TypeError.  Pin: float tokens AND float
    budgets work, the result is exactly the per-group naive prefix,
    NULLs are never selected, and the only Sort in the plan is the
    group-partitioned boundary window (no global sort)."""
    from dwc_dataframe_validator_spark.operators.selection import (
        select_token_budget_by_group,
    )

    df = spark.range(0, 600).selectExpr(
        "id AS doc_id",
        "concat('g', pmod(id, 3)) AS grp",
        # NULL score every 97th row; NULL tokens every 89th
        "CASE WHEN pmod(id, 97) = 0 THEN NULL "
        "  ELSE CAST(pmod(id * 37, 100) AS DOUBLE) / 100.0 END AS score",
        "CASE WHEN pmod(id, 89) = 0 THEN NULL "
        "  ELSE CAST(5 + pmod(id, 7) AS DOUBLE) + 0.25 END AS tokens",
    )
    budgets = {"g0": 350.5, "g1": 0, "g2": 777.75}  # g with 0, no "g3"
    out = select_token_budget_by_group(
        df, budgets, "score", "tokens", group_col="grp"
    )
    got = {r["doc_id"] for r in out.collect()}
    want = _naive_group_prefix(df.collect(), budgets)
    assert got == want and len(want) > 0

    plan = out._jdf.queryExecution().executedPlan().toString()
    # AQE may print the window's sort at two nesting levels; the pin
    # is that EVERY Sort is the group-partitioned boundary window
    # (leading key = grp), i.e. no global sort anywhere
    sorts = [ln for ln in plan.splitlines() if "Sort [" in ln]
    assert sorts and all("Sort [grp" in ln for ln in sorts), plan[:800]
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_token_budget_by_group_boundary_refinement(spark):
    """r8: a dominant group whose boundary bucket exceeds boundary_cap
    is refined one level (4096× finer, clamped to its own coarse
    span) before the window — the result is still exactly the
    per-group naive prefix, every Sort stays group-partitioned, and a
    true point-mass group raises with guidance instead of silently
    funnelling its membership into one window partition."""
    import pytest

    from dwc_dataframe_validator_spark.operators.selection import (
        select_token_budget_by_group,
    )

    df = spark.range(0, 900).selectExpr(
        "id AS doc_id",
        "CASE WHEN id < 600 THEN 'big' ELSE concat('g', pmod(id, 2)) END"
        " AS grp",
        # 'big': all scores inside [0.5, 0.5005) — ONE coarse bucket at
        # granularity .001, but 500 distinct fine values
        "CASE WHEN id < 600 THEN 0.5 + CAST(pmod(id * 7, 500) AS DOUBLE)"
        " / 1e6 ELSE CAST(pmod(id * 37, 100) AS DOUBLE) / 100.0 END"
        " AS score",
        "CAST(2 + pmod(id, 3) AS DOUBLE) AS tokens",
    )
    budgets = {"big": 700.0, "g0": 120, "g1": 90}
    out = select_token_budget_by_group(
        df, budgets, "score", "tokens", group_col="grp", boundary_cap=50
    )
    got = {r["doc_id"] for r in out.collect()}
    want = _naive_group_prefix(df.collect(), budgets)
    assert got == want and len(want) > 0
    # the refined group contributed, and far fewer rows than its size
    big_sel = sum(1 for i in got if i < 600)
    assert 0 < big_sel < 600

    plan = out._jdf.queryExecution().executedPlan().toString()
    sorts = [ln for ln in plan.splitlines() if "Sort [" in ln]
    assert sorts and all("Sort [grp" in ln for ln in sorts), plan[:800]

    # true point mass in a group over the cap: loud failure, never a
    # degenerate window over the whole group
    pm = spark.range(0, 300).selectExpr(
        "id AS doc_id",
        "'solid' AS grp",
        "CAST(0.5 AS DOUBLE) AS score",
        "CAST(1 AS DOUBLE) AS tokens",
    )
    with pytest.raises(ValueError, match="point mass"):
        select_token_budget_by_group(
            pm, {"solid": 10}, "score", "tokens", group_col="grp",
            boundary_cap=50,
        )


def test_token_budget_by_group_near_point_mass_guard(spark):
    """r9 (ADVICE): a NEAR-point-mass group — ≥2 sub-buckets after
    refinement but the chosen sub-boundary bucket still holds more
    than boundary_cap rows — must raise like the exact point mass
    does, not silently funnel the mass into one window partition."""
    import pytest

    from dwc_dataframe_validator_spark.operators.selection import (
        select_token_budget_by_group,
    )

    # 299 rows at score 0.5 plus one row 5e-7 above it: one coarse
    # bucket (granularity .001) that refines into exactly TWO
    # sub-buckets (sub-granularity .001/4096 ≈ 2.44e-7), with the
    # boundary sub-bucket holding 299 rows > boundary_cap
    df = spark.range(0, 300).selectExpr(
        "id AS doc_id",
        "'near' AS grp",
        "CASE WHEN id = 0 THEN CAST(0.5 + 5e-7 AS DOUBLE)"
        " ELSE CAST(0.5 AS DOUBLE) END AS score",
        "CAST(1 AS DOUBLE) AS tokens",
    )
    with pytest.raises(ValueError, match="near-point-mass"):
        select_token_budget_by_group(
            df, {"near": 10}, "score", "tokens", group_col="grp",
            boundary_cap=50,
        )


def test_epoch_repeat_sample_is_shuffle_free(spark):
    """The epoch materializer's 100 TB claim: after the (bounded)
    planning aggregation, materialization is WHOLLY map-side — CASE
    literals + an exploded sequence + a hash filter + union.  The
    executed plan must contain no Exchange at all."""
    from pyspark.sql import functions as F

    from dwc_dataframe_validator_spark.operators.sampling import (
        epoch_repeat_sample,
    )

    df = spark.range(0, 2000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("s"), F.pmod("id", 4)).alias("src"),
        (F.pmod("id", 7) + 1).alias("toks"),
    )
    out = epoch_repeat_sample(df, "src", "k", "toks", 20_000)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:800]
    assert "Generate explode" in plan or "Generate" in plan  # the sequence


def test_round13_decode_queries_are_map_side(spark):
    """The round-13 decode tiers are scan-speed by design: blob build,
    container walk, charset sniff, pixel decode and the abbreviation
    mask are all map-side Arrow/codegen stages — an Exchange anywhere
    means a stray shuffle crept into a per-row pipeline."""
    for name in (
        "jpeg_progressive_hash_check",
        "charset_decode_check",
        "video_frame_hash_check",
        "multimodal_frame_sample",
        "multimodal_decode_stub",
    ):
        nodes = _nodes(spark, name)
        assert nodes.count("Exchange") == 0, (name, nodes)
    # r19 opt: sentence_stats routes through spread_small_scan — the
    # degenerate single-split LOCAL scan gains exactly one adaptive
    # repartition (4.2 s → 1.1 s at sf0.1: the whole regex pass used
    # to serialize on one core); on a real corpus scan the spread is
    # a pinned no-op (test_spread_small_scan_is_noop_on_wide_input),
    # so the map-side/scan-speed claim still holds at 100 TB
    nodes = _nodes(spark, "sentence_stats_abbrev_docs")
    assert nodes.count("Exchange") == 1, nodes
    assert nodes.count("Sort") == 0, nodes


def test_round16_extraction_plans_are_shuffle_free(spark):
    """Every round-16 extraction check is ONE map-side Arrow
    projection: zero exchanges, zero sorts — the property that makes
    them scan-parallel at any corpus size.  (The cross-container
    dedup check legitimately shuffles in its clustering core and is
    not pinned here.)"""
    for name in (
        "xlsx_text_check", "pptx_text_check",
        "tiff_pixel_hash_check", "ico_pixel_hash_check",
        "epub_text_check", "rtf_text_check",
        "wav_mp3_frame_hash_check", "office_corpus_token_check",
        "eml_text_check", "odf_text_check", "mbox_text_check",
    ):
        nodes = _nodes(spark, name)
        assert nodes.count("Exchange") == 0, (name, nodes)
        assert nodes.count("Sort") == 0, (name, nodes)
    # r19 opt: the three Python-heaviest PDF checks LOST their former
    # id-spread exchange (the r15 adpcm pattern) — the per-task decode
    # memo collapsed the per-row Python cost to a cache probe, so the
    # extra exchange and task fan-out cost more than they bought
    # (guide §2.4: remove shuffles outright).  They are now pure
    # map-side: zero Exchange, zero Sort.
    for name in (
        "pdf_image_hash_check", "pdf_encrypted_text_check",
        "pdf_cid_text_check",
    ):
        nodes = _nodes(spark, name)
        assert nodes.count("Exchange") == 0, (name, nodes)
        assert nodes.count("Sort") == 0, (name, nodes)
