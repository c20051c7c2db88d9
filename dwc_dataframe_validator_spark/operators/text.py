"""Text-analysis operators for large-scale document pipelines.

Everything here is built-in Catalyst expressions — no Python UDFs — so
the whole surface stays inside whole-stage codegen and scales linearly
with executors.  These extend the reference validator (which has no
text surface) to the document-profiling checks an LLM training-data
pipeline needs: token statistics, quality scoring, language ID,
fingerprinting, and shingle-based near-duplicate analysis.

Scale notes (100 TB):
- token/quality/langid/fingerprint are narrow per-row projections: no
  shuffle at all, pure map-side, pushdown-friendly (only ``text`` and
  the id column are read from parquet).
- the shingle inverted index (``word_ngrams`` → ``jaccard_top_neighbor``)
  shuffles by shingle; hyper-common shingles create skew, so
  ``max_shingle_df`` drops shingles whose document frequency exceeds a
  cap (standard practice — a shingle in >X% of docs carries no signal
  and quadratically explodes its bucket).  For corpus-scale near-dup,
  prefer operators.dedup.minhash_lsh_pairs (banded LSH, never all-pairs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.payload_cache import _struct, attach_blobs, map_payloads

# Stopword alternations used for quality scoring and the language-ID
# heuristic.  Tiny fixed sets — these are regex literals folded by
# Catalyst's ConstantFolding, not data-side joins.
EN_STOPWORDS = r"\b(the|a|of|and|to|in|is)\b"
LANG_STOPWORDS = {
    "en": r"\b(the|a|of|and|is|to)\b",
    "de": r"\b(der|die|das|und|ist|zu)\b",
    "fr": r"\b(le|la|et|est|les|un)\b",
    "es": r"\b(el|los|de|y|es|una)\b",
}


def token_count(col: Column | str) -> Column:
    """Whitespace token count; 0 for blank/empty strings."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == F.lit(""), F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )


# BPE-ish pre-tokenization: letter runs, single digits, single
# non-space symbols — the GPT-style split shape, restricted to
# lookahead-free RE2 syntax so the same pattern runs on any engine.
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"


def bpe_ish_token_count(col: Column | str) -> Column:
    """Subword-ish token count (letter runs + digits + symbols) — the
    cheap proxy for a BPE tokenizer's token count in a training-data
    pipeline (real BPE would be a Pandas UDF behind this same column
    contract)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_ISH_PATTERN))


def token_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document token/byte/character-class statistics.

    Pure projection — zero shuffles; Catalyst prunes the parquet scan
    to (id, text).
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    return df.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        bpe_ish_token_count(t).alias("n_tokens_bpe"),
        F.length(F.encode(t, "UTF-8")).alias("n_bytes"),
        n_chars.alias("n_chars_computed"),
        (n_chars - F.length(F.regexp_replace(t, r"[A-Za-z]", ""))).alias("n_alpha"),
        (n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))).alias("n_digit"),
        (n_chars - F.length(F.regexp_replace(t, r"[.!?,;:]", ""))).alias("n_punct"),
        (n_chars - F.length(F.regexp_replace(t, r"\s", ""))).alias("n_ws"),
    )


def token_stats_bpe(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    merges_path: str | None = None,
) -> DataFrame:
    """Real-BPE token counts next to the regex proxy: (id, n_tokens_bpe,
    n_tokens_bpe_real) per document.

    ``n_tokens_bpe`` (the lookahead-free regex count) stays the
    engine-portable oracle column; ``n_tokens_bpe_real`` runs the
    greedy merge loop of ``functions.bpe`` over the repo-shipped merge
    table.  Physical shape: Arrow-batched ``mapInPandas`` — the merge
    table loads once per task (not per row), each batch is one Python
    pass, and the schema is declared up front so Catalyst still prunes
    the scan to (id, text).  Never a row-at-a-time Python UDF.

    An unmergeable word costs len(word)+0 tokens (character fallback),
    so real ≥ 1 token per pre-token and real ≥ proxy count always —
    asserted in pytest."""
    from ..functions import bpe as _bpe

    path = merges_path or _bpe.DEFAULT_MERGES_PATH
    projected = df.select(
        F.col(id_col), F.col(text_col).alias("_text"),
        # null text counts 0 tokens on both columns (regexp_count
        # propagates null; the real encoder returns 0)
        F.coalesce(
            bpe_ish_token_count(F.col(text_col)), F.lit(0)
        ).alias("n_tokens_bpe"),
    )

    def batches(it):
        ranks = _bpe.load_merges(path)  # once per task, not per row
        for pdf in it:
            pdf["n_tokens_bpe_real"] = [
                _bpe.token_count(t, ranks) if isinstance(t, str) else 0
                for t in pdf["_text"]
            ]
            yield pdf.drop(columns=["_text"])

    schema = f"{id_col} long, n_tokens_bpe int, n_tokens_bpe_real long"
    return projected.mapInPandas(batches, schema=schema)


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_tokens: int = 5,
    max_tokens: int = 10_000,
    min_alpha_ratio: float = 0.5,
) -> DataFrame:
    """Heuristic document-quality gate (length bounds, alphabetic ratio,
    stopword presence) — the standard cheap pre-filter before expensive
    dedup/model scoring in a training-data pipeline."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_alpha = n_chars - F.length(F.regexp_replace(t, r"[A-Za-z]", ""))
    stop_hits = F.regexp_count(t, F.lit(EN_STOPWORDS))
    alpha_ratio = n_alpha.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
    return df.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        stop_hits.alias("stopword_hits"),
        alpha_ratio.alias("alpha_ratio"),
        (
            n_tokens.between(min_tokens, max_tokens)
            & (stop_hits >= 1)
            & (alpha_ratio >= min_alpha_ratio)
        ).alias("quality_ok"),
    )


# Linear quality model: fixed feature order + weights, shared with the
# generated DuckDB oracle.  Transcendental-free on purpose — every
# feature and the logit are IEEE +,*,/ in a fixed evaluation order, so
# Spark (JVM) and DuckDB (C) produce bit-identical doubles and the
# score crosses the exact-hash gate.  Swap in trained weights (e.g. a
# fastText/DCLM-style quality classifier distilled to a linear head)
# without touching the plan shape.
QUALITY_MODEL_INTERCEPT = -3.5
QUALITY_MODEL_WEIGHTS: tuple[tuple[str, float], ...] = (
    ("alpha_ratio", 3.0),    # alphabetic chars / chars
    ("stopword_frac", 4.0),  # stopword hits / tokens
    ("len_norm", 1.0),       # min(tokens, 1000) / 1000
)


def model_quality_score(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: tuple = (),
) -> DataFrame:
    """Model-based quality scoring — the "classifier filter" step of a
    modern training-data pipeline (quality classifiers à la DCLM /
    FineWeb-Edu), here a linear head over cheap text features:
    ``(id, features..., quality_logit, quality_pred)``.

    One map-side projection, no shuffle, no UDF — model inference at
    scan speed, which is the whole point of distilling a quality model
    to features the engine can compute in codegen.  At 100 TB this
    scores every document in the same pass that reads it.

    ``keep_cols`` are passed through unchanged, so downstream steps
    that need both the score AND other columns (token counts, source)
    get them from this same single pass — joining two projections of
    the same table back together on ``id_col`` costs a full shuffle
    the projection never needed."""
    t = F.col(text_col)
    n_chars = F.length(t)
    n_tokens = token_count(t)
    n_alpha = n_chars - F.length(F.regexp_replace(t, r"[A-Za-z]", ""))
    feats = {
        "alpha_ratio": n_alpha.cast("double")
        / F.greatest(n_chars, F.lit(1)).cast("double"),
        "stopword_frac": F.regexp_count(t, F.lit(EN_STOPWORDS)).cast("double")
        / F.greatest(n_tokens, F.lit(1)).cast("double"),
        "len_norm": F.least(n_tokens, F.lit(1000)).cast("double")
        / F.lit(1000.0),
    }
    logit = F.lit(QUALITY_MODEL_INTERCEPT)
    for name, w in QUALITY_MODEL_WEIGHTS:
        logit = logit + F.lit(w) * feats[name]
    produced = (
        {id_col, "quality_logit", "quality_pred"}
        | {name for name, _ in QUALITY_MODEL_WEIGHTS}
    )
    clash = [c for c in keep_cols if c in produced]
    if clash:
        raise ValueError(
            f"keep_cols {clash} collide with columns the projection "
            "already emits — a duplicate output name raises "
            "AMBIGUOUS_REFERENCE far from the call site; rename or drop"
        )
    return df.select(
        F.col(id_col),
        *[feats[name].alias(name) for name, _ in QUALITY_MODEL_WEIGHTS],
        logit.alias("quality_logit"),
        (logit > F.lit(0.0)).alias("quality_pred"),
        *[F.col(c) for c in keep_cols],
    )


def language_id(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """N-gram/stopword-heuristic language ID.

    Counts stopword hits per candidate language and picks the max with
    a fixed precedence (en > de > fr > es > und) on ties.  This is the
    classic cheap heuristic; a production pipeline would swap in a
    fastText-style classifier behind the same column contract.
    """
    t = F.col(text_col)
    hits = {k: F.regexp_count(F.lower(t), F.lit(pat)) for k, pat in LANG_STOPWORDS.items()}
    best = F.greatest(*hits.values())
    guess = (
        F.when(best == 0, F.lit("und"))
        .when(hits["en"] == best, F.lit("en"))
        .when(hits["de"] == best, F.lit("de"))
        .when(hits["fr"] == best, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    return df.select(
        F.col(id_col),
        *[h.alias(f"hits_{k}") for k, h in hits.items()],
        guess.alias("lang_guess"),
    )


#: Unicode-script letter classes as EXPLICIT codepoint ranges (BMP
#: only), not ``\p{script=...}`` properties: Java regex and RE2 spell
#: script properties differently (``\p{IsHan}`` vs ``\p{Han}``) and
#: resolve them against whatever Unicode table each engine ships, so
#: property classes can silently disagree between Spark and the DuckDB
#: oracle.  Literal ranges evaluate identically everywhere, forever.
#: Latin excludes U+00D7/U+00F7 (multiplication/division signs sit in
#: the middle of the Latin-1 letter block).
SCRIPT_RANGES = {
    "latin": "[A-Za-z\\x{00C0}-\\x{00D6}\\x{00D8}-\\x{00F6}"
             "\\x{00F8}-\\x{024F}]",
    "han": "[\\x{4E00}-\\x{9FFF}\\x{3400}-\\x{4DBF}]",
    "hiragana": "[\\x{3040}-\\x{309F}]",
    "katakana": "[\\x{30A0}-\\x{30FF}]",
    "hangul": "[\\x{AC00}-\\x{D7AF}\\x{1100}-\\x{11FF}\\x{3130}-\\x{318F}]",
    "cyrillic": "[\\x{0400}-\\x{04FF}]",
    "arabic": "[\\x{0600}-\\x{06FF}\\x{0750}-\\x{077F}]",
    "devanagari": "[\\x{0900}-\\x{097F}]",
    "greek": "[\\x{0370}-\\x{03FF}]",
    "hebrew": "[\\x{0590}-\\x{05FF}]",
    "thai": "[\\x{0E00}-\\x{0E7F}]",
}

#: tie-break precedence for the dominant script (first listed wins);
#: latin deliberately LAST so any non-Latin presence that ties Latin
#: is surfaced — mixed pages lean toward the rarer signal
SCRIPT_PRECEDENCE = (
    "han", "hiragana", "katakana", "hangul", "cyrillic", "arabic",
    "devanagari", "greek", "hebrew", "thai", "latin",
)

#: dominant script → language guess for the single-language scripts;
#: han/kana and latin need extra logic (see ``language_id_v2``)
_SCRIPT_LANG = {
    "hangul": "ko", "cyrillic": "ru", "arabic": "ar",
    "devanagari": "hi", "greek": "el", "hebrew": "he", "thai": "th",
}


def language_id_v2(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Script-aware language ID: per-document letter counts for the
    eleven ``SCRIPT_RANGES`` Unicode scripts, a dominant-script guess,
    and a language guess layered on top of it.

    Classification rules (deterministic, both twins replay them):

    1. ``script_guess`` — the ``SCRIPT_PRECEDENCE``-first script whose
       letter count equals the max; ``und`` when every count is 0.
    2. ``lang_guess`` —
       - han-dominant: ``ja`` when any kana is present (Japanese text
         mixes kanji with kana; Chinese text has none), else ``zh``;
       - hiragana/katakana-dominant: ``ja``;
       - single-language scripts map directly (hangul → ko, cyrillic →
         ru, arabic → ar, devanagari → hi, greek → el, hebrew → he,
         thai → th);
       - latin-dominant: the ``LANG_STOPWORDS`` heuristic
         (en/de/fr/es), ``und`` when no stopword hits;
       - no letters at all: ``und``.

    One map-side Catalyst projection — eleven ``regexp_count`` scans
    over the text column, codegen-friendly, shuffle-free; at 100 TB
    this is a pure scan-side rule like the Gopher/C4 filters.  A
    production pipeline would swap a fastText-style classifier behind
    the same column contract for long-tail languages; the script tier
    is what routes 95 %+ of crawl bytes correctly and is exactly
    replayable by the DuckDB oracle (explicit codepoint ranges — see
    ``SCRIPT_RANGES``)."""
    t = F.col(text_col)
    # stage 1: materialize the expensive regexp_count scans ONCE as
    # integer columns.  The classification ladders below reference
    # each count many times — keeping them in one projection with the
    # scans overflowed Janino's 64 KB method limit (interpreted-mode
    # fallback, a scan-speed regression), and CollapseProject will NOT
    # re-merge the two selects because the producer expressions are
    # non-cheap and multiply referenced.
    stage1 = df.select(
        F.col(id_col),
        t.isNull().alias("_no_text"),
        *[
            F.regexp_count(t, F.lit(pat)).alias(f"n_{k}")
            for k, pat in SCRIPT_RANGES.items()
        ],
        *[
            F.regexp_count(F.lower(t), F.lit(p)).alias(f"_lh_{k}")
            for k, p in LANG_STOPWORDS.items()
        ],
    )
    counts = {k: F.col(f"n_{k}") for k in SCRIPT_RANGES}
    best = F.greatest(*counts.values())
    # NULL text must short-circuit to 'und' BEFORE any count test:
    # every count is NULL for NULL text, so each WHEN is skipped and
    # control would otherwise fall through to the latin-stopword
    # fallback, whose final ELSE labelled NULL docs 'es'
    script = F.when(F.col("_no_text"), F.lit("und")).when(
        best == 0, F.lit("und")
    )
    for k in SCRIPT_PRECEDENCE:
        script = script.when(counts[k] == best, F.lit(k))
    # precedence chain is exhaustive: some count equals the max
    kana = counts["hiragana"] + counts["katakana"]
    lhits = {k: F.col(f"_lh_{k}") for k in LANG_STOPWORDS}
    lbest = F.greatest(*lhits.values())
    latin_lang = (
        F.when(lbest == 0, F.lit("und"))
        .when(lhits["en"] == lbest, F.lit("en"))
        .when(lhits["de"] == lbest, F.lit("de"))
        .when(lhits["fr"] == lbest, F.lit("fr"))
        .otherwise(F.lit("es"))
    )
    lang = (
        F.when(F.col("_no_text"), F.lit("und"))
        .when(best == 0, F.lit("und"))
        .when(
            counts["han"] == best,
            F.when(kana > 0, F.lit("ja")).otherwise(F.lit("zh")),
        )
        .when(counts["hiragana"] == best, F.lit("ja"))
        .when(counts["katakana"] == best, F.lit("ja"))
    )
    for k, code in _SCRIPT_LANG.items():
        lang = lang.when(counts[k] == best, F.lit(code))
    lang = lang.otherwise(latin_lang)
    return stage1.select(
        F.col(id_col),
        *[counts[k].alias(f"n_{k}") for k in SCRIPT_RANGES],
        script.alias("script_guess"),
        lang.alias("lang_guess"),
    )


def language_id_v2_sql(table: str = "documents", text: str = "text",
                       id_col: str = "doc_id") -> str:
    """DuckDB twin of ``language_id_v2``, generated from the SAME
    ``SCRIPT_RANGES`` /precedence tables so the two engines can only
    diverge algorithmically, never by rule data."""
    cnt = {
        k: "len(regexp_extract_all(%s, '%s'))" % (text, pat)
        for k, pat in SCRIPT_RANGES.items()
    }
    cols = ",\n            ".join(
        "%s AS n_%s" % (e, k) for k, e in cnt.items()
    )
    best = "greatest(%s)" % ", ".join("n_%s" % k for k in SCRIPT_RANGES)
    script = (
        "CASE WHEN %s IS NULL THEN 'und' WHEN best = 0 THEN 'und' %s END"
        % (
            text,
            " ".join(
                "WHEN n_%s = best THEN '%s'" % (k, k)
                for k in SCRIPT_PRECEDENCE
            ),
        )
    )
    lh = {
        k: "len(regexp_extract_all(lower(%s), '%s'))" % (text, p)
        for k, p in LANG_STOPWORDS.items()
    }
    latin = (
        "CASE WHEN greatest({en}, {de}, {fr}, {es}) = 0 THEN 'und'"
        " WHEN {en} = greatest({en}, {de}, {fr}, {es}) THEN 'en'"
        " WHEN {de} = greatest({en}, {de}, {fr}, {es}) THEN 'de'"
        " WHEN {fr} = greatest({en}, {de}, {fr}, {es}) THEN 'fr'"
        " ELSE 'es' END"
    ).format(**lh)
    lang = (
        "CASE WHEN " + text + " IS NULL THEN 'und'"
        " WHEN best = 0 THEN 'und'"
        " WHEN n_han = best THEN"
        " (CASE WHEN n_hiragana + n_katakana > 0 THEN 'ja' ELSE 'zh' END)"
        " WHEN n_hiragana = best THEN 'ja'"
        " WHEN n_katakana = best THEN 'ja' %s ELSE %s END"
        % (
            " ".join(
                "WHEN n_%s = best THEN '%s'" % (k, code)
                for k, code in _SCRIPT_LANG.items()
            ),
            latin,
        )
    )
    return """
        WITH sc AS (
          SELECT {id}, {text},
            {cols}
          FROM {table}),
        sb AS (SELECT *, {best} AS best FROM sc)
        SELECT {id}, {ncols},
          {script} AS script_guess,
          {lang} AS lang_guess
        FROM sb
    """.format(
        id=id_col, text=text, cols=cols, table=table, best=best,
        ncols=", ".join("n_%s" % k for k in SCRIPT_RANGES),
        script=script, lang=lang,
    )


def fingerprint(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic document fingerprint: md5 of the
    whitespace-normalized, lowercased text.  Exact-dedup key that is
    robust to case and whitespace variation."""
    t = F.col(text_col)
    norm = F.lower(F.trim(F.regexp_replace(t, r"\s+", " ")))
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        F.length(norm).alias("norm_len"),
    )


#: split-count memo for spread_small_scan, keyed on the scan's file
#: tuple, the parallelism and the two file-split settings.  The number
#: of scan splits is a pure function of those, so probing it once per
#: key per driver is exact; this is PLAN metadata, never query results
#: (every query still computes from the parquet inputs).  A streaming
#: caller resolves a fresh file set per micro-batch, so the memo is
#: cleared once it holds ``_SPLIT_COUNT_MEMO_MAX`` entries.
_SPLIT_COUNT_MEMO: dict = {}
_SPLIT_COUNT_MEMO_MAX = 256


def spread_small_scan(df: DataFrame, key_col: str) -> DataFrame:
    """Repartition ``df`` by ``key_col`` ONLY when its scan has fewer
    splits than half the cluster's parallelism.  The per-token /
    per-shingle hash work in this module runs map-side BEFORE any
    exchange, so it inherits the scan's partitioning: a small corpus in
    one parquet file would serialize the whole pass on a single core.
    On a real cluster the scan has >> defaultParallelism splits and
    this is a no-op — an unconditional repartition would add a full
    shuffle of the raw text, the most expensive column in the corpus.
    Value-neutral: every consumer hashes rows deterministically, so
    results are partitioning-independent.

    r20 (r19 VERDICT note): the ``df.rdd.getNumPartitions()`` probe is
    a driver-side plan-to-RDD conversion (~50 ms per call) — it is now
    memoized per (input file set, parallelism), since narrow
    transforms preserve the scan's partition count and the split
    count of a file set is fixed by the split settings in the key.
    Apply it only to a plain scan under narrow transforms: a frame
    repartitioned or coalesced over the same files would read the
    scan's count.  Frames with no resolvable input files (in-memory
    relations) skip the memo — their partition counts are not keyed
    by anything stable."""
    if df.isStreaming:
        return df  # no .rdd on streaming frames; micro-batches spread upstream
    sc = df.sparkSession.sparkContext
    par = sc.defaultParallelism
    try:
        files = tuple(df.inputFiles())
    except Exception:  # pragma: no cover - defensive
        files = ()
    key = None
    if files:
        conf = df.sparkSession.conf
        key = (
            files,
            par,
            conf.get("spark.sql.files.maxPartitionBytes"),
            conf.get("spark.sql.files.openCostInBytes"),
        )
    n = _SPLIT_COUNT_MEMO.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            if len(_SPLIT_COUNT_MEMO) >= _SPLIT_COUNT_MEMO_MAX:
                _SPLIT_COUNT_MEMO.clear()
            _SPLIT_COUNT_MEMO[key] = n
    if n < max(2, par // 2):
        return df.repartition(par, F.col(key_col))
    return df


def word_ngrams(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distinct word n-gram shingles per document, exploded to
    (id, shingle) rows — the input of the Jaccard inverted index and
    the MinHash signature builder.

    Built with ``zip_with`` over shifted slices (no UDF): for n=2,
    zip(words, words[1:]) with null-padding on the shorter side; the
    trailing null pair concats to null and is filtered.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    t = F.trim(F.col(text_col))
    words = F.split(t, r"\s+")
    if n == 1:
        grams = words
    else:
        grams = words
        for i in range(1, n):
            shifted = F.slice(words, i + 1, F.greatest(F.size(words) - i, F.lit(0)))
            grams = F.zip_with(grams, shifted, lambda a, b: F.concat_ws(" ", a, b))
        # zip_with pads the shorter array with nulls; concat_ws skips
        # nulls, so trailing entries are partial (n-1)-grams — drop by
        # slicing to the exact gram count.
        grams = F.slice(
            grams, 1, F.greatest(F.size(words) - (n - 1), F.lit(0))
        )
    return (
        spread_small_scan(df.filter(t != F.lit("")), id_col)
        .select(F.col(id_col), F.explode(F.array_distinct(grams)).alias("shingle"))
    )


def df_cap_frame(
    df: DataFrame, min_cap: int = 5, frac: float = 0.1,
    max_cap: "int | None" = None,
) -> DataFrame:
    """One-row frame ``(_df_cap,)`` = max(min_cap, floor(N·frac)),
    clamped to ``max_cap`` when given, with N the row count of ``df``
    — the document-frequency skew cap computed INSIDE the plan.  Pass
    it as ``max_shingle_df``: the guard cross-joins this single
    broadcast row instead of running a separate ``count()`` job on
    the driver before the query even starts.

    ``max_cap`` is the SCALE bound: per capped shingle the pair join
    fans out up to cap² rows, so a purely RELATIVE cap (frac·N) makes
    worst-case join work quadratic in corpus size — measured in the
    round-19 10× suite anchor (contamination_hits 48.8× at 10×).
    With an absolute ceiling the worst case is Σ_shingles cap² ≤
    (N·L/cap)·cap² = N·L·cap — linear in N.  A shingle above a few
    hundred documents is boilerplate, not signal, so the ceiling
    costs no recall at the thresholds these operators run at."""
    cap = F.greatest(
        F.lit(min_cap).cast("long"),
        F.floor(F.count(F.lit(1)) * F.lit(frac)).cast("long"),
    )
    if max_cap is not None:
        cap = F.least(cap, F.lit(int(max_cap)).cast("long"))
    return df.agg(cap.alias("_df_cap"))


def _apply_df_guard(
    sh: DataFrame, max_shingle_df: "int | DataFrame | None"
) -> DataFrame:
    """Drop shingles whose document frequency exceeds the cap, via a
    count window over ``shingle`` — ONE shuffle whose partitioning the
    downstream pair join on ``shingle`` reuses (ReusedExchange).  The
    groupBy-then-join-back alternative would broadcast the kept
    vocabulary — nearly ALL distinct shingles, gigabytes at corpus
    scale.  ``max_shingle_df`` is an int literal or a one-row
    ``df_cap_frame`` (in-plan cap, single broadcast row)."""
    if max_shingle_df is None:
        return sh
    w = Window.partitionBy("shingle")
    sh = sh.withColumn("_df", F.count(F.lit(1)).over(w))
    if isinstance(max_shingle_df, DataFrame):
        sh = (
            sh.crossJoin(F.broadcast(max_shingle_df))
            .filter(F.col("_df") <= F.col("_df_cap"))
            .drop("_df_cap")
        )
    else:
        sh = sh.filter(F.col("_df") <= F.lit(max_shingle_df))
    return sh.drop("_df")


def jaccard_top_neighbor(
    df: DataFrame,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: "int | DataFrame | None" = None,
) -> DataFrame:
    """Top-1 near-duplicate neighbor per document by word-n-gram Jaccard.

    Inverted-index plan (never a naive all-pairs cross join):
      shingles → self-join on shingle (pairs sharing ≥1 shingle) →
      common-count per pair → jaccard = common / (|A|+|B|-common) →
      row_number over each doc (jaccard desc, neighbor asc) → rank 1.

    ``max_shingle_df`` drops shingles with document frequency above the
    cap before pairing — the skew guard that keeps bucket fan-out
    sub-quadratic at corpus scale.  Pass an int, or a one-row
    ``df_cap_frame`` to derive the cap from the corpus size in-plan
    (no driver-side count job).
    """
    sh = _apply_df_guard(word_ngrams(df, n, text_col, id_col), max_shingle_df)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))

    a = sh.select(F.col(id_col).alias("ida"), "shingle")
    b = sh.select(F.col(id_col).alias("idb"), "shingle")
    pairs = (
        a.join(b, "shingle")
        .filter(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    pairs = (
        pairs.join(sizes.select(F.col(id_col).alias("ida"), F.col("nsh").alias("na")), "ida")
        .join(sizes.select(F.col(id_col).alias("idb"), F.col("nsh").alias("nb")), "idb")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
    )
    both = pairs.select(
        F.col("ida").alias(id_col), F.col("idb").alias("neighbor_id"), "jaccard"
    ).unionAll(
        pairs.select(
            F.col("idb").alias(id_col), F.col("ida").alias("neighbor_id"), "jaccard"
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("jaccard"), F.asc("neighbor_id"))
    return (
        both.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float,
    n: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: "int | DataFrame | None" = None,
) -> DataFrame:
    """All document pairs with word-n-gram Jaccard ≥ threshold, via the
    same inverted-index plan (and df skew guard) as
    jaccard_top_neighbor."""
    sh = _apply_df_guard(word_ngrams(df, n, text_col, id_col), max_shingle_df)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("nsh"))
    a = sh.select(F.col(id_col).alias("ida"), "shingle")
    b = sh.select(F.col(id_col).alias("idb"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.count(F.lit(1)).alias("common"))
        .join(sizes.select(F.col(id_col).alias("ida"), F.col("nsh").alias("na")), "ida")
        .join(sizes.select(F.col(id_col).alias("idb"), F.col("nsh").alias("nb")), "idb")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("ida", "idb", "jaccard")
    )


# --------------------------------------------------------------------------
# vocabulary building / term weighting (training-data pipeline surface)
# --------------------------------------------------------------------------

# Word tokenization shared by term_frequencies / tfidf_top_terms and
# the surprisal scorers.  Kept to RE2-safe syntax so the DuckDB oracle
# runs the IDENTICAL pattern.
WORD_PATTERN = r"[a-z0-9]+"
#: RE2's \s is exactly [ \t\n\f\r]; Java's additionally matches
#: U+000B (vertical tab).  The rule-set operators spell the class out
#: so Spark and the DuckDB oracles agree on EVERY byte — a document
#: containing \x0B must tokenize identically on both engines.
PORTABLE_WS = r"[ \t\n\f\r]"
PORTABLE_NONWS = r"[^ \t\n\f\r]"


def _word_tokens(text_col: str) -> Column:
    """The shared lowercase word-token array expression — ONE
    definition so every oracle-replayed tokenization stays
    byte-identical across operators."""
    return F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit(WORD_PATTERN), 0
    )


def _flog2(c: Column) -> Column:
    """Exact floor-log2 on the integer grid: ``len(bin(c)) − 1``.
    This is the load-bearing cross-engine contract of the surprisal
    scorers (both oracles replay ``length(format('{:b}', c)) - 1``) —
    one definition so the grid cannot silently diverge between
    operators."""
    return (F.length(F.bin(c)) - 1).cast("long")


def term_frequencies(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Corpus vocabulary with collection term frequency and document
    frequency: ``(term, term_freq, doc_freq)``.

    Plan: one projection (lower + regexp_extract_all — codegen'd, no
    UDF), one explode, one hash aggregation on ``term``.  The explode
    fan-out is the corpus token count, but partial (map-side) aggregation
    collapses each partition to its local vocabulary before the shuffle,
    so shuffle volume is per-partition-vocab, not tokens.  At 100 TB the
    reducer-side state is the global vocabulary — millions of keys, well
    within executor memory, and AQE coalesces the post-shuffle
    partitions."""
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(
            F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_PATTERN), 0)
        ).alias("term"),
    )
    return toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("term_freq"),
        F.countDistinct("_doc").alias("doc_freq"),
    )


def vocab_top_terms(
    df: DataFrame, k: int, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The ``k`` most frequent terms (ties break term-ascending) —
    ``TakeOrderedAndProject`` over the vocabulary aggregate, no full
    sort."""
    return (
        term_frequencies(df, text_col, id_col)
        .orderBy(F.desc("term_freq"), F.asc("term"))
        .limit(k)
    )


def tfidf_top_terms(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    weighting: str = "log",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by tf·idf:
    ``(doc_id, term, tf, doc_freq, weight)``.

    ``weighting='log'`` scores ``tf * (ln((N+1)/(doc_freq+1)) + 1)``
    (smoothed idf — what a user wants).  ``weighting='integer'`` scores
    ``tf * (N - doc_freq + 1)`` in exact int64: same monotonicity in tf
    and rarity, but bit-identical across engines — the registry uses it
    because ``ln`` differs in the last ulp between libm and the JVM and
    a one-ulp flip near a tie would swap the selected rows.

    Plan: ONE pass over the tokens — per-doc term counts (shuffle on
    (doc, term)), then document frequency as a COUNT WINDOW over the
    same aggregate partitioned by term (one repartition of the compact
    tf table; never a second scan/explode of the corpus, never a
    self-join).  The corpus size joins in as a broadcast single-row
    aggregate (its own tiny column-pruned scan).  A naive formulation
    (separate dfreq aggregate joined back) re-reads and re-explodes the
    corpus twice — .explain showed 3 scans / 6 exchanges vs 2 / 3 here.
    Ties break term-ascending."""
    tf = (
        df.select(
            F.col(id_col).alias("doc"),
            F.explode(
                F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(WORD_PATTERN), 0)
            ).alias("term"),
        )
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w_term = Window.partitionBy("term")
    total = df.select(
        F.countDistinct(F.col(id_col)).alias("_n_docs")
    )
    scored = tf.withColumn("doc_freq", F.count(F.lit(1)).over(w_term)).crossJoin(
        F.broadcast(total)
    )
    if weighting == "integer":
        weight = (
            F.col("tf") * (F.col("_n_docs") - F.col("doc_freq") + F.lit(1))
        ).cast("long")
    elif weighting == "log":
        weight = F.col("tf") * (
            F.log((F.col("_n_docs") + 1) / (F.col("doc_freq") + 1)) + F.lit(1.0)
        )
    else:
        raise ValueError(f"weighting must be 'log' or 'integer', got {weighting!r}")
    w = Window.partitionBy("doc").orderBy(F.desc("weight"), F.asc("term"))
    return (
        scored.withColumn("weight", weight)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("doc").alias(id_col), "term", "tf", "doc_freq", "weight"
        )
    )


#: terminal-punctuated sentence run — RE2 ∩ Java (no lookaround); a
#: trailing unterminated fragment is handled separately (see
#: ``sentence_stats``).  The default deterministic tier; the
#: abbreviation-aware tier (``abbrev_aware=True``) masks a BOUNDED
#: abbreviation set's trailing periods first — same
#: data-as-single-source-of-truth discipline as the PSL snapshot,
#: still model-free and cross-engine exact.
SENTENCE_RE = r"[^.!?]+[.!?]+"

#: bounded English abbreviation set whose trailing '.' does not end a
#: sentence — THE single source of truth: the Spark mask, the DuckDB
#: twin and the tests are all generated from this tuple
SENTENCE_ABBREVIATIONS = (
    "dr", "mr", "mrs", "ms", "prof", "rev", "hon", "st", "sr", "jr",
    "vs", "etc", "inc", "ltd", "co", "corp", "no", "dept", "univ",
    "approx", "fig", "vol", "pp", "ed", "al",
)
#: the masked-period sentinel: a non-whitespace, non-terminal control
#: char, so word runs (PORTABLE_NONWS) and the sentence regex treat
#: the abbreviation exactly like any other in-sentence token
_ABBR_SENTINEL = "\x01"
#: RE2 ∩ Java pattern: abbreviation token + '.'; \b keeps "badr." from
#: matching "dr." (both engines support \b and (?i))
ABBREV_PERIOD_RE = (
    r"(?i)\b(" + "|".join(SENTENCE_ABBREVIATIONS) + r")\."
)
#: leading non-terminal run — anchored on the REVERSED text it finds
#: the unterminated trailer in one linear scan.  (The first cut used
#: ``^(?:[^.!?]+[.!?]+)*`` as a prefix replace: nested quantifiers
#: send Java's backtracking engine quadratic on multi-KB documents —
#: 18 s for 5k docs at sf0.1 vs sub-second now.)
_LEADING_NONTERM_RE = r"^[^.!?]*"


def sentence_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    abbrev_aware: bool = False,
) -> DataFrame:
    """Per-document sentence segmentation stats — the sentence-level
    quality signals (C4's ≥3-sentence page rule, mean/max words per
    sentence) on the exact integer grid.

    A sentence = a maximal ``[^.!?]+[.!?]+`` run; the trailing
    non-terminal run, when it has any non-whitespace, counts as one
    final unterminated sentence (so ``n_terminated ≤ n_sentences ≤
    n_terminated + 1``).  Returns
    ``(id_col, n_sentences, n_terminated, total_words,
    mean_sentence_words, max_sentence_words)`` — words are
    ``PORTABLE_NONWS`` runs, the mean is integer floor division, and
    NULL/empty text yields all-zero counts with NULL mean/max.

    ``abbrev_aware=True`` adds the abbreviation tier: the trailing
    period of any ``SENTENCE_ABBREVIATIONS`` token is masked to a
    non-terminal sentinel BEFORE segmentation (one extra
    ``regexp_replace``), so "Dr. Smith arrived." is ONE sentence.
    Word counts are unaffected — the sentinel is non-whitespace, so
    every word run survives byte-for-byte in count terms.

    ONE map-side projection (regexp array + higher-order transform /
    aggregate — no explode, scan-speed at 100 TB); the DuckDB oracle
    replays the split with the same two regexes (and the same mask)
    and ``list_transform``/``list_aggregate``.  r19 opt: the input
    passes through ``spread_small_scan`` — a no-op on a real corpus
    scan, but a degenerate single-split file would otherwise
    serialize the whole per-row regex pass on one core (measured
    4.2 s → 1.1 s at sf0.1 on local[32])."""
    df = spread_small_scan(df, id_col)
    if abbrev_aware:
        # $1 keeps the abbreviation token; only its '.' becomes the
        # sentinel (DuckDB twin: '\\1' || chr(1) with the same
        # pattern).  Materialized in its OWN stacked select: stage 0
        # references the text twice, and a multiply-referenced
        # non-cheap expression re-evaluates per reference otherwise
        # (the sentence-stats 18s lesson).
        df = df.select(
            F.col(id_col),
            F.regexp_replace(
                F.col(text_col), ABBREV_PERIOD_RE, "$1" + _ABBR_SENTINEL
            ).alias(text_col),
        )
    t = F.col(text_col)
    words = lambda s: F.size(  # noqa: E731
        F.regexp_extract_all(s, F.lit(PORTABLE_NONWS + "+"), 0)
    )
    # stage 0 materializes each regex extraction ONCE (downstream
    # expressions reference the arrays several times, and in a single
    # projection every reference re-ran the extraction — ~5× the scan
    # cost; CollapseProject keeps the splits because the producers are
    # non-cheap and multiply referenced — the language_id_v2 lesson)
    stage0 = df.select(
        F.col(id_col),
        F.regexp_extract_all(t, F.lit(SENTENCE_RE), 0).alias("_s"),
        F.reverse(
            F.regexp_extract(F.reverse(t), _LEADING_NONTERM_RE, 0)
        ).alias("_tr"),
    )
    all_sents = F.when(
        F.length(F.trim(F.col("_tr"))) > 0,
        F.concat(F.col("_s"), F.array(F.col("_tr"))),
    ).otherwise(F.col("_s"))
    stage1 = stage0.select(
        F.col(id_col),
        F.coalesce(F.size("_s"), F.lit(0)).alias("_n_term"),
        F.transform(all_sents, words).alias("_wc"),
    )
    wc = F.col("_wc")
    n = F.coalesce(F.size(wc), F.lit(0))
    total = F.coalesce(
        F.aggregate(wc, F.lit(0), lambda a, x: a + x), F.lit(0)
    )
    stage2 = stage1.select(
        F.col(id_col),
        n.cast("long").alias("n_sentences"),
        F.col("_n_term").cast("long").alias("n_terminated"),
        total.cast("long").alias("total_words"),
        F.when(n > 0, F.array_max(wc).cast("long")).alias(
            "max_sentence_words"
        ),
    )
    # TRUE integer division (`div`) so the engine shares DuckDB's `//`
    # integer grid by construction — not double division that merely
    # happens to truncate right while totals stay under 2^53
    return stage2.select(
        F.col(id_col),
        "n_sentences",
        "n_terminated",
        "total_words",
        F.when(
            F.col("n_sentences") > 0,
            F.expr("total_words div n_sentences"),
        ).alias("mean_sentence_words"),
        "max_sentence_words",
    )


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split each document into fixed-size token windows — the chunking
    step between cleaned corpus and LM training examples:
    ``(id_col, chunk_id, chunk_text, n_tokens)``, chunk_ids 0-based in
    order, last chunk ragged.

    Pure expressions: whitespace split, one ``sequence``/``slice``
    projection per row, ONE posexplode — fan-out is ceil(tokens/chunk),
    map-side, no shuffle, no UDF.  Empty/blank docs produce zero chunks
    (nothing to train on), matching ``token_count`` = 0 semantics."""
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be positive, got {chunk_tokens}")
    t = F.trim(F.col(text_col))
    toks = F.split(t, r"\s+")
    n = F.size(toks)
    chunks = F.transform(
        F.sequence(
            F.lit(0), F.ceil(n / F.lit(chunk_tokens)).cast("int") - F.lit(1)
        ),
        lambda i: F.array_join(
            F.slice(toks, i * chunk_tokens + 1, chunk_tokens), " "
        ),
    )
    return (
        df.filter(t != F.lit(""))
        .select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_id", "chunk_text"),
        )
        .withColumn(
            "n_tokens", F.size(F.split(F.col("chunk_text"), r"\s+"))
        )
    )


# --------------------------------------------------------------------------
# repetition signals / PII scrubbing (training-data quality surface)
# --------------------------------------------------------------------------


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals — the Gopher-style quality rules
    (Rae et al. 2021, "Scaling Language Models", table A1) that catch
    boilerplate/spam the length+stopword gate of ``quality_score``
    misses: ``(id, n_lines, dup_line_frac, dup_line_char_frac,
    top_word_frac)``.

    - ``dup_line_frac``: fraction of lines that repeat an earlier line
      (occurrences after the first / total lines);
    - ``dup_line_char_frac``: fraction of characters sitting in those
      repeated lines;
    - ``top_word_frac``: share of the most frequent word in the total
      word count (near 1 ⇒ one token repeated over and over).

    Plan: two explode→groupBy pyramids (lines, words) that each reduce
    map-side to one row per (doc, value), then one row per doc —
    partial aggregation keeps shuffle state bounded by DISTINCT lines/
    words per doc, not document length.  The two per-doc frames join on
    the id (both sides already hash-partitioned by it from their final
    aggregates).  Pure expressions, fully SQL-portable (exact DuckDB
    oracle in the registry)."""
    t = F.trim(F.col(text_col))
    lines = (
        df.filter(t != F.lit(""))
        .select(F.col(id_col), F.explode(F.split(F.col(text_col), "\n")).alias("line"))
        .groupBy(id_col, "line")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            F.sum("c").alias("n_lines"),
            (F.sum(F.col("c") - 1).cast("double") / F.sum("c")).alias(
                "dup_line_frac"
            ),
            (
                F.sum(F.length("line") * (F.col("c") - 1)).cast("double")
                / F.greatest(F.sum(F.length("line") * F.col("c")), F.lit(1))
            ).alias("dup_line_char_frac"),
        )
    )
    words = (
        df.filter(t != F.lit(""))
        .select(
            F.col(id_col),
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)), F.lit(WORD_PATTERN), 0
                )
            ).alias("w"),
        )
        .groupBy(id_col, "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(
            (F.max("c").cast("double") / F.sum("c")).alias("top_word_frac")
        )
    )
    return lines.join(words, id_col, "left")


# PII patterns shared by the Spark scrubber and the DuckDB oracle —
# RE2-safe syntax only (no lookarounds/backrefs), so Java regex and RE2
# agree (both leftmost-first).  Replacement order matters (emails
# contain word chars a later pattern could clip): email → ipv4 → phone,
# identical on both engines.
#
# Phone shape (can't digit-count across groups without lookahead, so
# the bound is structural): either a compact international number
# (`+` then 7-15 digits), or 3-5 groups of 2-4 digits joined by single
# space/hyphen separators, optionally `+`-prefixed / parenthesized,
# word-boundary-anchored on both ends.  The anchors + group shape stop
# the false positives the old `\+?\d[\d() -]{7,}\d` had: bare digit
# runs inside IDs, single-digit space lists, 5+-digit ID chunk lists,
# and dotted coordinates no longer redact.  Known remaining ambiguity:
# `YYYY-MM-DD` dates share the grouped shape and still match (as they
# did before); excluding them needs lookahead, which RE2 lacks.
#
# KNOWN FALSE NEGATIVE (deliberate): a compact NATIONAL number with no
# separators and no `+` (e.g. `5551234567`) does NOT redact — only the
# `+`-prefixed compact alternative matches unseparated runs.  A bare
# `\b\d{10}\b` alternative would redact every 10-digit identifier
# (order numbers, user ids, EPOCH-ish values), and on this engine's
# target corpora ID-shaped digit runs vastly outnumber unformatted
# phone numbers.  Corpora where that trade goes the other way should
# append `\b\d{10}\b` to the phone alternatives — the scrubber and the
# oracle share this constant, so one edit keeps them in lockstep.
# Pinned by test_pii_scrub_known_phone_leak.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    (
        "phone",
        r"\+\d{7,15}\b"
        r"|(\+\(?\d{2,4}\)?|\(\d{2,4}\)|\b\d{2,4})([ -]\d{2,4}){2,4}\b",
        "<PHONE>",
    ),
]


def pii_scrub(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Pattern-based PII redaction — the pre-training scrub step:
    ``(id, n_email, n_ipv4, n_phone, scrubbed)`` with every match
    replaced by its placeholder.

    One map-side projection (regexp_count + chained regexp_replace per
    pattern, whole-stage-codegen'd, no UDF, no shuffle) — at 100 TB
    this runs at scan speed.  Patterns are shared constants with the
    DuckDB oracle; counts are computed BEFORE any replacement so
    pattern overlap cannot double-count."""
    t = F.col(text_col)
    counts = [
        F.coalesce(F.regexp_count(t, F.lit(pat)), F.lit(0))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    scrubbed = t
    for _, pat, repl in PII_PATTERNS:
        scrubbed = F.regexp_replace(scrubbed, pat, repl)
    return df.select(F.col(id_col), *counts, scrubbed.alias("scrubbed"))


def unigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Unigram-LM quality score on an exact integer-log2 grid —
    CCNet-style perplexity filtering's decision signal, made
    cross-engine reproducible.

    Per token, surprisal ≈ −log2 P(token) = log2 N − log2 c(token)
    under the corpus's own unigram model.  Real perplexity filters use
    natural-log floats; ``ln`` is not IEEE-correctly-rounded, so
    engines can differ in the last ulp and floor/compare boundaries —
    this repo's oracle discipline (see the tf-idf integer weighting)
    instead quantizes to FLOOR-log2: ``floor(log2 c) = len(bin(c)) −
    1``, an exact integer both engines compute from the binary-string
    length.  The per-document score is then an exact long (sum of
    per-token bit gaps) and one final long/long division — the only
    double in the output, identical bits on both engines.  Coarser
    than ln by construction; the ranking it induces is what the
    filter consumes.

    Returns ``(id_col, n_tokens, surprisal_bits, bits_per_token)`` for
    every document (zero-token docs: 0, 0, NULL).

    Plan: ONE tokenize pass → per-(doc,term) counts (shuffle 1 on the
    compact pairs) → corpus term count as a SUM WINDOW over the same
    aggregate partitioned by term (shuffle 2, never a second corpus
    scan/explode — the tf-idf lesson) → per-doc aggregate (shuffle 3).
    Corpus total-token count joins in as a broadcast single-row
    aggregate from its own column-pruned map-only scan.
    """
    toks = _word_tokens(text_col)
    tf = (
        df.select(F.col(id_col).alias("_doc"), F.explode(toks).alias("term"))
        .groupBy("_doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    c_term = F.sum("tf").over(Window.partitionBy("term"))
    total = df.agg(
        F.coalesce(F.sum(F.size(toks)), F.lit(0)).cast("long").alias("_n_total")
    )
    scored = (
        tf.withColumn("_c", c_term)
        .crossJoin(F.broadcast(total))
        .withColumn(
            "_bits",
            F.col("tf") * (_flog2(F.col("_n_total")) - _flog2(F.col("_c"))),
        )
    )
    per_doc = scored.groupBy("_doc").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum("_bits").cast("long").alias("surprisal_bits"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_doc", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("surprisal_bits"), F.lit(0)).alias(
                "surprisal_bits"
            ),
            F.when(
                F.col("n_tokens").isNotNull() & (F.col("n_tokens") > 0),
                F.col("surprisal_bits").cast("double")
                / F.col("n_tokens").cast("double"),
            ).alias("bits_per_token"),
        )
    )


def bigram_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram-LM quality score on the same exact integer-log2 grid as
    ``unigram_surprisal`` — the next step up the n-gram ladder for
    perplexity-style filtering: per transition,
    surprisal ≈ −log2 P(cur|prev) = floor_log2 c(prev·) −
    floor_log2 c(prev,cur), where c(prev·) is the PREFIX count
    (Σ_cur c(prev,cur)) — the proper MLE denominator, and free here:
    it is a second sum-window over the same bigram aggregate, never a
    separate unigram scan or join.

    Returns ``(id_col, n_transitions, surprisal_bits,
    bits_per_transition)`` for every document (docs with < 2 tokens:
    0, 0, NULL).  All-integer until the one final division, so the
    DuckDB oracle replays the values bit-for-bit.

    Plan: ONE tokenize pass → map-side bigram zip (slice+arrays_zip,
    no extra scan) → per-(doc, prev, cur) counts (shuffle 1) →
    corpus bigram count and prefix count as TWO sum-windows over that
    aggregate (shuffles 2-3, both on compact pair rows) → per-doc
    aggregate (shuffle 4).  Nothing rescans text; state is the
    distinct-bigram table, linear in corpus vocabulary usage."""
    base = df.select(
        F.col(id_col).alias("_doc"), _word_tokens(text_col).alias("_t")
    )
    n1 = F.greatest(F.size("_t") - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(F.col("_t"), 1, n1).alias("prev"),
        F.slice(F.col("_t"), 2, n1).alias("cur"),
    )
    tf = (
        base.select("_doc", F.explode(pairs).alias("_p"))
        .select("_doc", F.col("_p.prev"), F.col("_p.cur"))
        .groupBy("_doc", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    c_big = F.sum("tf").over(Window.partitionBy("prev", "cur"))
    c_prefix = F.sum("tf").over(Window.partitionBy("prev"))
    scored = (
        tf.withColumn("_cb", c_big)
        .withColumn("_cp", c_prefix)
        .withColumn(
            "_bits",
            F.col("tf") * (_flog2(F.col("_cp")) - _flog2(F.col("_cb"))),
        )
    )
    per_doc = scored.groupBy("_doc").agg(
        F.sum("tf").cast("long").alias("n_transitions"),
        F.sum("_bits").cast("long").alias("surprisal_bits"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_doc", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_transitions"), F.lit(0)).alias(
                "n_transitions"
            ),
            F.coalesce(F.col("surprisal_bits"), F.lit(0)).alias(
                "surprisal_bits"
            ),
            F.when(
                F.col("n_transitions").isNotNull()
                & (F.col("n_transitions") > 0),
                F.col("surprisal_bits").cast("double")
                / F.col("n_transitions").cast("double"),
            ).alias("bits_per_transition"),
        )
    )


def trigram_surprisal(
    df: DataFrame,
    model_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Trigram-LM quality score with STUPID BACKOFF on the exact
    integer-log2 grid — the KenLM-shaped step up from
    ``bigram_surprisal``, in the deployment shape real perplexity
    filters use: the model is counted on ``model_df`` (a held-in
    reference corpus, e.g. the curated slice) and applied to ``df``
    (the candidate corpus), so unseen n-grams actually occur and the
    backoff chain is live, not dead code.

    Per scored position (full trigram context, i.e. tokens 3..n):

    - trigram seen:  bits = flog2 c(p2,p1,·) − flog2 c(p2,p1,cur)
    - else bigram:   bits = 1 + flog2 c(p1,·) − flog2 c(p1,cur)
    - else unigram:  bits = 2 + flog2 N − flog2 c(cur)
    - else OOV:      bits = 2 + flog2 N          (count-1 convention)

    The +1/+2 terms are the backoff penalty λ = 1/2 per level —
    stupid backoff's λ=0.4 rounded onto the integer-bit grid so every
    value stays an exact long until the one final division (the same
    cross-engine contract as the uni/bigram scorers; ``model_df=None``
    scores the corpus under its own counts, where backoff never fires).

    Returns ``(id_col, n_scored, surprisal_bits, n_backoff_bigram,
    n_backoff_unigram, n_oov, bits_per_transition)`` for every
    document of ``df`` (docs with < 3 tokens: zeros, NULL ratio).

    Plan/scale: model-side counts are three aggregates over ONE
    tokenize pass of the model corpus, each bounded by its distinct
    n-gram vocabulary (state ∝ model corpus, not candidate corpus);
    prefix denominators are sum-windows over the same aggregates —
    never a second scan.  Scoring compresses the candidate corpus to
    per-(doc, trigram) counts FIRST, then three left joins on compact
    gram keys (AQE broadcasts them when the reference model is small —
    the common case: curated slice ≪ crawl)."""
    if model_df is None:
        model_df = df

    mbase = model_df.select(_word_tokens(text_col).alias("_t"))
    n2 = F.greatest(F.size("_t") - 2, F.lit(0))
    mtri = F.arrays_zip(
        F.slice(F.col("_t"), 1, n2).alias("p2"),
        F.slice(F.col("_t"), 2, n2).alias("p1"),
        F.slice(F.col("_t"), 3, n2).alias("cur"),
    )
    tri3 = (
        mbase.select(F.explode(mtri).alias("_g"))
        .select("_g.p2", "_g.p1", "_g.cur")
        .groupBy("p2", "p1", "cur")
        .agg(F.count(F.lit(1)).alias("_c3"))
        .withColumn(
            "_c3p", F.sum("_c3").over(Window.partitionBy("p2", "p1"))
        )
    )
    n1 = F.greatest(F.size("_t") - 1, F.lit(0))
    mbig = F.arrays_zip(
        F.slice(F.col("_t"), 1, n1).alias("p1"),
        F.slice(F.col("_t"), 2, n1).alias("cur"),
    )
    big2 = (
        mbase.select(F.explode(mbig).alias("_g"))
        .select("_g.p1", "_g.cur")
        .groupBy("p1", "cur")
        .agg(F.count(F.lit(1)).alias("_c2"))
        .withColumn("_c2p", F.sum("_c2").over(Window.partitionBy("p1")))
    )
    uni1 = (
        mbase.select(F.explode("_t").alias("cur"))
        .groupBy("cur")
        .agg(F.count(F.lit(1)).alias("_c1"))
    )
    total = mbase.agg(
        F.coalesce(F.sum(F.size("_t")), F.lit(0)).cast("long").alias("_n_total")
    )

    dbase = df.select(
        F.col(id_col).alias("_doc"), _word_tokens(text_col).alias("_t")
    )
    dtri = F.arrays_zip(
        F.slice(F.col("_t"), 1, n2).alias("p2"),
        F.slice(F.col("_t"), 2, n2).alias("p1"),
        F.slice(F.col("_t"), 3, n2).alias("cur"),
    )
    tf = (
        dbase.select("_doc", F.explode(dtri).alias("_g"))
        .select("_doc", "_g.p2", "_g.p1", "_g.cur")
        .groupBy("_doc", "p2", "p1", "cur")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    joined = (
        tf.join(tri3, ["p2", "p1", "cur"], "left")
        .join(big2, ["p1", "cur"], "left")
        .join(uni1, ["cur"], "left")
        .crossJoin(F.broadcast(total))
    )
    bits = (
        F.when(
            F.col("_c3").isNotNull(),
            _flog2(F.col("_c3p")) - _flog2(F.col("_c3")),
        )
        .when(
            F.col("_c2").isNotNull(),
            F.lit(1) + _flog2(F.col("_c2p")) - _flog2(F.col("_c2")),
        )
        .when(
            F.col("_c1").isNotNull(),
            F.lit(2) + _flog2(F.col("_n_total")) - _flog2(F.col("_c1")),
        )
        .otherwise(F.lit(2) + _flog2(F.col("_n_total")))
    )
    level = (
        F.when(F.col("_c3").isNotNull(), F.lit(0))
        .when(F.col("_c2").isNotNull(), F.lit(1))
        .when(F.col("_c1").isNotNull(), F.lit(2))
        .otherwise(F.lit(3))
    )
    per_doc = joined.withColumn("_bits", F.col("tf") * bits).withColumn(
        "_lvl", level
    ).groupBy("_doc").agg(
        F.sum("tf").cast("long").alias("n_scored"),
        F.sum("_bits").cast("long").alias("surprisal_bits"),
        F.sum(F.when(F.col("_lvl") == 1, F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_backoff_bigram"),
        F.sum(F.when(F.col("_lvl") == 2, F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_backoff_unigram"),
        F.sum(F.when(F.col("_lvl") == 3, F.col("tf")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_oov"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_doc", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_scored"), F.lit(0)).alias("n_scored"),
            F.coalesce(F.col("surprisal_bits"), F.lit(0)).alias(
                "surprisal_bits"
            ),
            F.coalesce(F.col("n_backoff_bigram"), F.lit(0)).alias(
                "n_backoff_bigram"
            ),
            F.coalesce(F.col("n_backoff_unigram"), F.lit(0)).alias(
                "n_backoff_unigram"
            ),
            F.coalesce(F.col("n_oov"), F.lit(0)).alias("n_oov"),
            F.when(
                F.col("n_scored").isNotNull() & (F.col("n_scored") > 0),
                F.col("surprisal_bits").cast("double")
                / F.col("n_scored").cast("double"),
            ).alias("bits_per_transition"),
        )
    )


def kneser_ney_surprisal(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring on the exact integer
    grid — the SMOOTHED companion to the stupid-backoff chain
    (``bigram_surprisal``/``trigram_surprisal``): KN is the standard
    n-gram smoother (Kneser & Ney 1995; Chen & Goodman 1999's
    interpolated form), and its continuation probability — "how many
    DISTINCT contexts does this word follow?" — is what separates
    genuinely versatile words from ones that only ever appear inside
    one frozen boilerplate phrase, a distinction raw counts miss.

      P_KN(w|v) = max(c(vw) − D, 0)/c(v·)
                  + D·N1+(v·)/c(v·) · N1+(·w)/N_B

    with discount D = 3/4, c(v·) the prefix count, N1+(v·) the
    distinct-continuation count of v, N1+(·w) the distinct-left-
    context count of w, and N_B the distinct-bigram-type count.
    Multiplying through by 4·c(v·)·N_B makes P an exact integer
    ratio:

      num = (4·c(vw) − 3)·N_B + 3·N1+(v·)·N1+(·w)
      den = 4·c(v·)·N_B

    and the per-transition surprisal is quantized to the repo's
    floor-log2 grid: bits = flog2(den) − flog2(num) — exact longs the
    DuckDB oracle replays bit-for-bit (no float ``ln`` divergence; see
    ``unigram_surprisal`` for the rationale).  Scoring the corpus's
    own transitions means c(vw) ≥ 1, so the max() never binds.

    Integer-range contract: ``den`` must fit a long — fine up to
    c(v·)·N_B < 2³⁰ · 2³¹ ≈ 2.3·10¹⁸ (e.g. a 10⁹-transition prefix in
    a 10⁹-type model).  Beyond that, shard the LM (per-source models)
    or move the two products to decimal(38,0); documented rather than
    silently wrong.

    Returns ``(id_col, n_transitions, kn_bits, bits_per_transition)``
    (docs with < 2 tokens: 0, 0, NULL).

    Plan: ONE tokenize pass feeding the whole per-pair state — like
    ``bigram_surprisal``, every corpus statistic is annotated onto the
    per-(doc, prev, cur) aggregate with WINDOWS instead of a separate
    bigram-type branch joined back (the r11 join-back form re-evaluated
    the tokenize lineage three times: Catalyst rewrote the N_B branch's
    stacked aggregates into a direct distinct, which broke AQE stage
    reuse, and the type-table join added a fourth shuffle).  Counts:
    per-(doc, prev, cur) tf (shuffle 1); c(vw) plus a first-occurrence
    flag as windows over (prev, cur) (shuffle 2); c(v·) and
    N1+(v·) = sum of flags over prev (shuffle 3); N1+(·w) = sum of
    flags over cur (shuffle 4) — the flag trick computes the distinct-
    continuation counts without ``collect_set`` window buffers, so a
    high-fan-out prefix like "the" costs a running sum, not a
    million-entry set in one window frame.  N_B broadcasts as a 1-row
    aggregate (never an unpartitioned window — that would funnel the
    pair table through one task) whose subtree keeps tf's exact
    shuffle so AQE stage reuse serves it from the same map output —
    the text is tokenized ONCE at runtime.  Per-doc aggregate is
    shuffle 5.  Everything after tokenization works on compact
    aggregate rows, linear in vocabulary usage."""
    base = df.select(
        F.col(id_col).alias("_doc"), _word_tokens(text_col).alias("_t")
    )
    n1 = F.greatest(F.size("_t") - 1, F.lit(0))
    pairs = F.arrays_zip(
        F.slice(F.col("_t"), 1, n1).alias("prev"),
        F.slice(F.col("_t"), 2, n1).alias("cur"),
    )
    tf = (
        base.select("_doc", F.explode(pairs).alias("_p"))
        .select("_doc", F.col("_p.prev"), F.col("_p.cur"))
        .groupBy("_doc", "prev", "cur")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    w_pair = Window.partitionBy("prev", "cur")
    flagged = tf.select(
        "*",
        F.sum("tf").over(w_pair).cast("long").alias("c"),
        (F.row_number().over(w_pair.orderBy("_doc")) == 1)
        .cast("long")
        .alias("_first"),
    )
    w_prev, w_cur = Window.partitionBy("prev"), Window.partitionBy("cur")
    stats = (
        flagged.withColumn("cv", F.sum("tf").over(w_prev).cast("long"))
        .withColumn("nv", F.sum("_first").over(w_prev).cast("long"))
        .withColumn("nw", F.sum("_first").over(w_cur).cast("long"))
    )
    # count(_c) instead of count(1): referencing the inner sum keeps
    # the (doc, prev, cur) aggregate alive (Catalyst otherwise prunes
    # the chain to a bare distinct over the raw explode), so this
    # subtree's shuffle canonicalizes identically to tf's and AQE
    # stage reuse serves it from the same map output — without it the
    # N_B branch re-tokenized the whole corpus.  Exact: tf ≥ 1, so
    # _c = sum(tf) is never NULL and count(_c) = N_B.
    nb = (
        tf.groupBy("prev", "cur")
        .agg(F.sum("tf").alias("_c"))
        .agg(F.count("_c").cast("long").alias("_nb"))
    )
    num = (
        (4 * F.col("c") - 3) * F.col("_nb")
        + 3 * F.col("nv") * F.col("nw")
    )
    den = 4 * F.col("cv") * F.col("_nb")
    scored = stats.crossJoin(F.broadcast(nb)).withColumn(
        "_bits", F.col("tf") * (_flog2(den) - _flog2(num))
    )
    per_doc = scored.groupBy("_doc").agg(
        F.sum("tf").cast("long").alias("n_transitions"),
        F.sum("_bits").cast("long").alias("kn_bits"),
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_doc", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_transitions"), F.lit(0)).alias(
                "n_transitions"
            ),
            F.coalesce(F.col("kn_bits"), F.lit(0)).alias("kn_bits"),
            F.when(
                F.col("n_transitions").isNotNull()
                & (F.col("n_transitions") > 0),
                F.col("kn_bits").cast("double")
                / F.col("n_transitions").cast("double"),
            ).alias("bits_per_transition"),
        )
    )


def boilerplate_lines(
    df: DataFrame,
    min_doc_freq: int = 2,
    min_chars: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-level boilerplate LINE detection — the CCNet /
    RefinedWeb web-curation step that span dedup does not cover: nav
    bars, cookie banners and footers repeat as whole lines across
    many pages, and the curation move is to drop the LINE everywhere
    (not keep one occurrence, as span/doc dedup would).

    A line = a ``\\n``-separated segment; its identity is the TRIMMED
    text; segments shorter than ``min_chars`` after trimming never
    count (blank lines and stray fragments are not evidence).  Returns
    ``(line, doc_freq)`` for lines appearing in ≥ ``min_doc_freq``
    DISTINCT documents.

    Plan: one explode → one hash aggregate on the line key with
    map-side partials (each partition collapses to its local distinct
    lines before the shuffle).  Hyper-common lines are single
    aggregation keys, not row explosions — count_distinct handles the
    skew in the standard two-stage expand."""
    lines = df.select(
        F.col(id_col).alias("_doc"),
        F.explode(F.split(F.col(text_col), "\n", -1)).alias("_raw"),
    )
    return (
        lines.select("_doc", F.trim(F.col("_raw")).alias("line"))
        .filter(F.length("line") >= int(min_chars))
        .groupBy("line")
        .agg(F.countDistinct("_doc").cast("long").alias("doc_freq"))
        .filter(F.col("doc_freq") >= int(min_doc_freq))
    )


def scrub_boilerplate_lines(
    df: DataFrame,
    min_doc_freq: int = 2,
    min_chars: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Materialize the corpus with boilerplate lines REMOVED (every
    occurrence — see ``boilerplate_lines`` for detection semantics):
    ``(id_col, text_col, n_lines, n_removed)`` with surviving lines
    rejoined by ``\\n`` in original order.  A document with no
    boilerplate round-trips byte-identical; a document that was ALL
    boilerplate becomes the empty string; NULL text stays NULL with
    ``n_lines = 0``.

    Plan: the detection aggregate, then ONE line-key equi-join of the
    exploded corpus against the (already aggregated, distinct-keyed)
    boilerplate table, then one groupBy(doc) reassembly — never
    all-pairs.  The boilerplate table is corpus-dependent (can exceed
    broadcast size on real crawls), so the join stays a shuffle join;
    a hyper-common line makes the PROBE side skewed on one key, which
    AQE's skew-join splitting handles (the build side holds one row
    per key by construction)."""
    boiler = boilerplate_lines(
        df, min_doc_freq, min_chars, text_col, id_col
    ).select(F.col("line").alias("_bline"))
    lines = df.select(
        F.col(id_col).alias("_doc"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias(
            "_pos", "_raw"
        ),
    )
    flagged = lines.join(
        boiler, F.trim(F.col("_raw")) == F.col("_bline"), "left"
    )
    per_doc = flagged.groupBy("_doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.count_if(F.col("_bline").isNotNull())
        .cast("long")
        .alias("n_removed"),
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("_bline").isNull(),
                            F.struct("_pos", "_raw"),
                        )
                    )
                ),
                lambda s: s["_raw"],
            ),
        ).alias("_clean"),
    )
    return (
        df.select(F.col(id_col), F.col(text_col).alias("_orig"))
        .join(per_doc.withColumnRenamed("_doc", id_col), id_col, "left")
        .select(
            id_col,
            # NULL text never exploded: keep NULL, not ""
            F.when(F.col("_orig").isNotNull(), F.col("_clean"))
            .alias(text_col),
            F.coalesce(F.col("n_lines"), F.lit(0)).alias("n_lines"),
            F.coalesce(F.col("n_removed"), F.lit(0)).alias("n_removed"),
        )
    )


def dsir_importance_scores(
    df: DataFrame,
    target: Column,
    n_buckets: int = 256,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """DSIR-style importance scores — Data Selection via Importance
    Resampling (Xie et al. 2023, arXiv:2302.03169): score every
    document by how much more likely its hashed-token features are
    under the TARGET distribution than under the RAW distribution, so
    the corpus can be resampled toward a target domain (the standard
    pretraining-mix curation move: "make the web crawl look more like
    Wikipedia").

    ``target`` is a boolean Column over ``df``'s rows marking the
    target-domain exemplars (NULL counts as raw).  Features are
    WORD_PATTERN tokens hashed to ``n_buckets`` buckets with the
    repo's engine-portable md5-prefix hash (same contract as
    operators/sketch.py).  Per-bucket add-one-smoothed log-ratio
    weights live on the exact integer FLOOR-log2 grid of the
    surprisal scorers::

        w_b = [flog2(t_b+1) − flog2(T+B)] − [flog2(r_b+1) − flog2(R+B)]

    (t/r = bucket counts in target/raw, T/R their totals, B =
    n_buckets) — every term an exact integer both engines compute
    from binary-string length, so per-doc scores are exact longs and
    a DuckDB oracle replays them bit-for-bit.  Coarser than the
    float ln-ratio of the paper; the induced ranking is what
    selection consumes.  Positive = target-like.

    Returns ``(id_col, n_tokens, dsir_bits, bits_per_token)`` for
    every document (zero-token docs: 0, 0, NULL).

    Plan: two passes over the exploded tokens, which is inherent to
    the method (fit the two feature distributions, then score).
    Pass 1 aggregates to the BOUNDED ``n_buckets``-row weight table
    (map-side partials collapse each partition to ≤B rows before the
    shuffle); pass 2 broadcast-joins that table onto the tokens and
    aggregates per doc — one shuffle on ``id_col``, again with
    map-side partials.  At 100 TB, fit the weights on a hash-sample
    (``sampling.hash_sample``) instead of the full corpus — the
    bucket distributions converge long before that — and score with
    this function's second half unchanged."""
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    toks = df.select(
        F.col(id_col).alias("_doc"),
        F.coalesce(target, F.lit(False)).alias("_is_target"),
        F.explode(_word_tokens(text_col)).alias("term"),
    ).withColumn(
        "_bucket",
        F.pmod(
            F.conv(
                F.substring(F.md5(F.col("term").cast("binary")), 1, 8),
                16,
                10,
            ).cast("long"),
            F.lit(int(n_buckets)),
        ),
    )
    counts = toks.groupBy("_bucket").agg(
        F.count_if(F.col("_is_target")).cast("long").alias("_t"),
        F.count_if(~F.col("_is_target")).cast("long").alias("_r"),
    )
    # totals via a GLOBAL window over the bounded ≤n_buckets-row
    # aggregate — a separate totals aggregate + crossJoin re-evaluates
    # the counts lineage, i.e. a third full pass over the exploded
    # tokens.  The single window partition holds ≤n_buckets rows.
    w_all = Window.partitionBy()
    tn = (F.sum("_t").over(w_all) + F.lit(int(n_buckets))).cast("long")
    rn = (F.sum("_r").over(w_all) + F.lit(int(n_buckets))).cast("long")
    weights = counts.select(
        "_bucket",
        (
            (_flog2(F.col("_t") + 1) - _flog2(tn))
            - (_flog2(F.col("_r") + 1) - _flog2(rn))
        )
        .cast("long")
        .alias("_w"),
    )
    per_doc = (
        toks.join(F.broadcast(weights), "_bucket")
        .groupBy("_doc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("_w").cast("long").alias("dsir_bits"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc.withColumnRenamed("_doc", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            F.coalesce(F.col("dsir_bits"), F.lit(0)).alias("dsir_bits"),
            F.when(
                F.col("n_tokens").isNotNull() & (F.col("n_tokens") > 0),
                F.col("dsir_bits").cast("double")
                / F.col("n_tokens").cast("double"),
            ).alias("bits_per_token"),
        )
    )


def learn_bpe_merges(
    df: DataFrame,
    n_merges: int = 200,
    text_col: str = "text",
    max_vocab: int = 100_000,
) -> list:
    """Distributed BPE tokenizer TRAINING: the corpus pass is a Spark
    word-count aggregate (explode of the shared pre-token pattern →
    one groupBy with map-side partials), and the inherently sequential
    merge loop (functions/bpe.py ``train_bpe_from_counts``) runs on
    the driver over the aggregated ``{word: count}`` table — the
    architecture real tokenizer trainers use, since BPE only ever
    consumes word counts, never the corpus itself.

    The driver structure is bounded by ``max_vocab``: words are capped
    to the most frequent (count desc, word asc — deterministic), the
    standard trainer practice that also caps the collect at 100 TB
    (distinct-word growth is sub-linear but unbounded; 100k words ≈ a
    few MB).  Returns the ordered merge list; feed it to
    ``token_stats_bpe_learned`` or ``functions.bpe.save_merges``.

    Determinism pin (pytest): equals ``functions.bpe.train_bpe`` run
    single-machine on the same texts whenever the vocab cap is not
    hit, because the merge loop breaks frequency ties
    lexicographically."""
    counts = (
        df.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower(F.col(text_col)),
                    F.lit(BPE_ISH_PATTERN),
                    0,
                )
            ).alias("_w")
        )
        .groupBy("_w")
        .agg(F.count(F.lit(1)).alias("_c"))
        .orderBy(F.desc("_c"), F.asc("_w"))
        .limit(max_vocab)
        .collect()
    )
    from ..functions import bpe as _bpe

    return _bpe.train_bpe_from_counts({r["_w"]: r["_c"] for r in counts}, n_merges)


def token_stats_bpe_learned(
    df: DataFrame,
    merges: list,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode the corpus with a LEARNED in-memory merge table (the
    output of ``learn_bpe_merges``): same Arrow ``mapInPandas`` shape
    as ``token_stats_bpe``, with the ranks shipped in the task closure
    instead of read from a file — the train→apply loop closed inside
    one session."""
    from ..functions import bpe as _bpe

    ranks = {tuple(m): i for i, m in enumerate(merges)}
    projected = df.select(
        F.col(id_col), F.col(text_col).alias("_text"),
        F.coalesce(
            bpe_ish_token_count(F.col(text_col)), F.lit(0)
        ).alias("n_tokens_bpe"),
    )

    def batches(it):
        for pdf in it:
            pdf["n_tokens_bpe_real"] = [
                _bpe.token_count(t, ranks) if isinstance(t, str) else 0
                for t in pdf["_text"]
            ]
            yield pdf.drop(columns=["_text"])

    schema = f"{id_col} long, n_tokens_bpe int, n_tokens_bpe_real long"
    return projected.mapInPandas(batches, schema=schema)


def gopher_quality_flags(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """The DOCUMENT-LEVEL Gopher quality rules (Rae et al. 2021,
    "Scaling Language Models", table A1) — the published rule set
    every modern pretraining pipeline starts from.  Complements
    ``repetition_profile`` (which carries the duplicate-line /
    top-word rules from the same table): word-count bounds, mean word
    length bounds, symbol-to-word ratio (``#`` and ellipses), bullet-
    and ellipsis-line fractions, alphabetic-word fraction, and the
    stopword floor.

    Returns per document: the raw metrics, one boolean per rule
    (True = rule VIOLATED), and ``gopher_pass`` = no violations.
    Documents with no words fail the word-count rule and carry NULL
    ratio metrics (nothing to measure), matching the filter intent.

    ONE map-side projection — every metric is a Catalyst
    regexp/array expression in the RE2 ∩ Java intersection, so the
    registry oracle replays each flag bit-for-bit; at 100 TB this
    scores in the scan, like ``model_quality_score``."""
    t = F.trim(F.col(text_col))
    # non-ws runs, not split-on-whitespace: split keeps phantom empty
    # tokens when the text starts/ends with non-space whitespace (a
    # trailing newline would inflate n_words past the floor and
    # deflate the alpha fraction).  PORTABLE_NONWS, not \S — Java's
    # \S excludes \x0B, RE2's does not.
    words = F.coalesce(
        F.regexp_extract_all(
            F.col(text_col), F.lit(PORTABLE_NONWS + "+"), 0
        ),
        F.array().cast("array<string>"),
    )
    n_words = F.coalesce(F.size(words), F.lit(0))
    sum_word_len = F.aggregate(
        words, F.lit(0), lambda acc, w: acc + F.length(w)
    )
    mean_word_len = F.when(
        n_words > 0, sum_word_len.cast("double") / n_words.cast("double")
    )
    n_alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[A-Za-z]"))
    )
    alpha_word_frac = F.when(
        n_words > 0, n_alpha_words.cast("double") / n_words.cast("double")
    )
    n_symbols = F.regexp_count(t, F.lit(r"#|\.\.\.|…"))
    symbol_word_ratio = F.when(
        n_words > 0, n_symbols.cast("double") / n_words.cast("double")
    )
    lines = F.split(F.col(text_col), "\n")
    n_lines = F.coalesce(F.size(lines), F.lit(0))
    # \s*-padded anchors instead of trim + $: Java's non-MULTILINE $
    # also matches before a final line terminator while RE2's does
    # not, and F.trim strips only spaces — \s* + \z (absolute end,
    # identical in both engines) keeps Spark and the oracle in
    # lockstep on \r-terminated lines too
    n_bullet = F.size(
        F.filter(lines, lambda ln: ln.rlike("^" + PORTABLE_WS + "*[-*•‣▪]"))
    )
    n_ellipsis = F.size(
        F.filter(
            lines,
            lambda ln: ln.rlike(
                r"(\.\.\.|…)" + PORTABLE_WS + r"*\z"
            ),
        )
    )
    bullet_line_frac = F.when(
        n_lines > 0, n_bullet.cast("double") / n_lines.cast("double")
    )
    ellipsis_line_frac = F.when(
        n_lines > 0, n_ellipsis.cast("double") / n_lines.cast("double")
    )
    # the paper's own list ("the, be, to, of, and, that, have,
    # with"), counted as DISTINCT words present — "the the" alone is
    # one listed word, not two (the common reading, and the one the
    # curation libraries implement)
    stop_hits = F.coalesce(
        F.size(
            F.array_distinct(
                F.regexp_extract_all(
                    F.lower(t),
                    F.lit(r"\b(the|be|to|of|and|that|have|with)\b"),
                    0,
                )
            )
        ),
        F.lit(0),
    )
    flags = {
        "flag_word_count": (n_words < min_words)
        | (n_words > max_words),
        "flag_mean_word_len": F.coalesce(
            (mean_word_len < min_mean_word_len)
            | (mean_word_len > max_mean_word_len),
            F.lit(False),
        ),
        "flag_symbol_ratio": F.coalesce(
            symbol_word_ratio > max_symbol_word_ratio, F.lit(False)
        ),
        "flag_bullet_lines": F.coalesce(
            bullet_line_frac > max_bullet_line_frac, F.lit(False)
        ),
        "flag_ellipsis_lines": F.coalesce(
            ellipsis_line_frac > max_ellipsis_line_frac, F.lit(False)
        ),
        "flag_alpha_words": F.coalesce(
            alpha_word_frac < min_alpha_word_frac, F.lit(False)
        ),
        "flag_stopwords": stop_hits < min_stopword_hits,
    }
    no_violation = None
    for c in flags.values():
        no_violation = ~c if no_violation is None else (no_violation & ~c)
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        symbol_word_ratio.alias("symbol_word_ratio"),
        bullet_line_frac.alias("bullet_line_frac"),
        ellipsis_line_frac.alias("ellipsis_line_frac"),
        alpha_word_frac.alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stopword_hits"),
        *[v.alias(k) for k, v in flags.items()],
        no_violation.alias("gopher_pass"),
    )


def c4_line_cleanup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """The C4 line-level cleaning rules (Raffel et al. 2020, §2.2) —
    the other published rule set modern pipelines start from,
    complementing the document-level Gopher rules: keep only lines
    that END IN TERMINAL PUNCTUATION — the paper's "period,
    exclamation mark, question mark, or end quotation mark" (a curly
    or double closing quote qualifies alone; the straight ``'`` only
    after ``.!?`` — bare it is indistinguishable from an apostrophe) — and have ≥
    ``min_line_words`` words; drop the whole document if it contains
    ``{`` (code), the phrase "lorem ipsum", or fewer than
    ``min_kept_lines`` surviving lines (default 3, the paper's
    ≥3-sentence page rule read at line granularity).

    Returns every input row as ``(id_col, text_col, n_lines, n_kept,
    dropped, drop_reason)`` — ``text_col`` is the cleaned text (kept
    lines rejoined) or NULL when the document is dropped;
    ``drop_reason`` ∈ ('brace', 'lorem_ipsum', 'too_few_lines', NULL).
    NULL input text → dropped with reason 'too_few_lines' (nothing
    kept), so the accounting stays total.

    ONE map-side projection: the line split, per-line predicate,
    reassembly and document gates are all higher-order array
    expressions (``filter``/``array_join``) — no explode, no shuffle,
    no Python; the oracle replays every rule with ``list_filter``."""
    # \s*\z anchoring, not trim + $ (Java's $ matches before a final
    # line terminator, RE2's does not — \z is identical in both); a
    # bare end quotation mark is terminal per the paper.  Words are
    # \S+ runs so empty fragments never count.
    line_ok = lambda ln: (  # noqa: E731
        ln.rlike(
            r"""([.!?]["'”’]?|["”’])""" + PORTABLE_WS + r"*\z"
        )
        & (
            F.size(
                F.regexp_extract_all(
                    ln, F.lit(PORTABLE_NONWS + "+"), 0
                )
            )
            >= int(min_line_words)
        )
    )
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(lines, line_ok)
    n_lines = F.coalesce(F.size(lines), F.lit(0))
    n_kept = F.coalesce(F.size(kept), F.lit(0))
    has_brace = F.col(text_col).contains("{")
    has_lorem = F.lower(F.col(text_col)).contains("lorem ipsum")
    reason = (
        F.when(F.coalesce(has_brace, F.lit(False)), F.lit("brace"))
        .when(F.coalesce(has_lorem, F.lit(False)), F.lit("lorem_ipsum"))
        .when(n_kept < int(min_kept_lines), F.lit("too_few_lines"))
    )
    return df.select(
        F.col(id_col),
        F.when(reason.isNull(), F.array_join(kept, "\n")).alias(text_col),
        n_lines.cast("long").alias("n_lines"),
        n_kept.cast("long").alias("n_kept"),
        reason.isNotNull().alias("dropped"),
        reason.alias("drop_reason"),
    )


def ngram_repetition_profile(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    top_ns: tuple = (2, 3, 4),
    dup_ns: tuple = (5, 6, 7, 8, 9, 10),
    eager: bool = True,
) -> DataFrame:
    """The n-gram half of Gopher's repetition rules (Rae et al. 2021
    table A1), completing ``repetition_profile``'s line/word rules:
    per document and per n, the fraction of characters covered by

    - ``kind='top'`` (n ∈ ``top_ns``): the MOST FREQUENT word n-gram —
      ``count · len(gram) / len(text)``;
    - ``kind='dup'`` (n ∈ ``dup_ns``): ALL n-grams occurring ≥ 2
      times — ``Σ count · len(gram) / len(text)``.

    Occurrence counting, not overlap-deduplicated span coverage (the
    standard implementation shape — overlapping occurrences can
    double-count characters, so dup fractions may exceed 1 on
    pathological repetition; Gopher thresholds them well below that).
    Gram length counts the single joining spaces.  Tie-break for the
    top gram: highest count, then lexicographically greatest gram —
    total and engine-portable.

    Returns long-format ``(id_col, n, kind, frac)`` — one row per
    document per rule, docs with fewer than n words read 0.0 (nothing
    repeated), so the accounting stays total.

    Plan: ONE tokenize pass cached as (doc, words, n_chars); per n,
    a map-side slice/concat expansion → explode → per-(doc, gram)
    count with map-side partials (shuffle state is distinct grams,
    not gram occurrences) → per-doc aggregate; the per-n frames union
    (each one row per doc).  Linear in corpus tokens × |ns|.

    Cache hygiene mirrors ``minhash_lsh_pairs``: with ``eager=True``
    (default) the small long-format result (|rules| rows per doc) is
    materialized via one eager ``localCheckpoint`` and the tokenized
    corpus cache is released before returning, so a session running
    many registry queries accumulates no executor storage;
    ``eager=False`` keeps the plan lazy and transfers cache ownership
    to the caller: the tokenized-corpus cache is registered in a
    module-level pool and stays pinned until the caller invokes
    ``release_ngram_repetition_caches()`` (after materializing the
    result), so repeated lazy calls cannot silently accumulate
    executor storage with no unpersist path."""
    all_ns = sorted({*(int(n) for n in top_ns),
                     *(int(n) for n in dup_ns)})
    if not all_ns or min(all_ns) < 2:
        raise ValueError("n-gram sizes must be >= 2")
    top_set = {int(n) for n in top_ns}
    dup_set = {int(n) for n in dup_ns}
    words = F.regexp_extract_all(
        F.col(text_col), F.lit(PORTABLE_NONWS + "+"), 0
    )
    base = df.select(
        F.col(id_col).alias("_doc"),
        words.alias("_w"),
        F.coalesce(F.length(text_col), F.lit(0)).alias("_n_chars"),
    ).cache()
    try:
        return _ngram_rep_build(base, id_col, all_ns, top_set,
                                dup_set, eager)
    finally:
        if eager:
            base.unpersist(blocking=False)
        else:
            _LAZY_NGRAM_CACHES.append(base)


# Tokenized-corpus caches owned by ngram_repetition_profile(eager=False)
# callers — see release_ngram_repetition_caches().
_LAZY_NGRAM_CACHES: list = []


def release_ngram_repetition_caches() -> int:
    """Unpersist every tokenized-corpus cache handed out by
    ``ngram_repetition_profile(eager=False)`` and return how many were
    released.  Call after materializing the lazy result; safe to call
    repeatedly (idempotent once the pool is drained)."""
    n = 0
    while _LAZY_NGRAM_CACHES:
        _LAZY_NGRAM_CACHES.pop().unpersist(blocking=False)
        n += 1
    return n


def _ngram_rep_build(base, id_col, all_ns, top_set, dup_set, eager):
    ids = base.select("_doc", "_n_chars")
    parts = []
    for n in all_ns:
        grams = F.transform(
            F.sequence(F.lit(1), F.size("_w") - F.lit(n - 1)),
            lambda i: F.concat_ws(" ", F.slice("_w", i, n)),
        )
        counts = (
            base.filter(F.size("_w") >= n)
            .select("_doc", F.explode(grams).alias("_g"))
            .groupBy("_doc", "_g")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        per_doc = counts.groupBy("_doc").agg(
            F.max(F.struct("_c", "_g")).alias("_top"),
            F.sum(
                F.when(
                    F.col("_c") >= 2, F.col("_c") * F.length("_g")
                ).otherwise(F.lit(0))
            ).alias("_dupchars"),
        )
        joined = ids.join(per_doc, "_doc", "left")
        for kind, expr in (
            (
                "top",
                F.col("_top._c").cast("double")
                * F.length(F.col("_top._g")).cast("double"),
            ),
            ("dup", F.col("_dupchars").cast("double")),
        ):
            if (kind == "top" and n not in top_set) or (
                kind == "dup" and n not in dup_set
            ):
                continue
            parts.append(
                joined.select(
                    F.col("_doc").alias(id_col),
                    F.lit(n).alias("n"),
                    F.lit(kind).alias("kind"),
                    F.coalesce(
                        expr
                        / F.greatest(F.col("_n_chars"), F.lit(1)).cast(
                            "double"
                        ),
                        F.lit(0.0),
                    ).alias("frac"),
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if eager:
        out = out.localCheckpoint(eager=True)
    return out


# ---- Subtitles: SRT / WebVTT timed-text parse ------------------------
#: (id, cue_idx, start_ms, end_ms, text, ok) — one row per cue
SUBTITLE_CUE_SCHEMA = (
    "id long, cue_idx int, start_ms long, end_ms long, "
    "text string, ok boolean"
)

#: one timestamp line: [HH:]MM:SS(.|,)mmm --> [HH:]MM:SS(.|,)mmm
#: — SRT writes comma + mandatory hours, WebVTT writes dot + optional
#: hours; one pattern reads both (cue settings after the arrow time
#: are tolerated, the parse anchors on the line's leading timestamps)
_SUBTITLE_TS_RX = (
    r"(?:(\d{1,3}):)?(\d{2}):(\d{2})[.,](\d{3})"
    r"[ \t]*-->[ \t]*"
    r"(?:(\d{1,3}):)?(\d{2}):(\d{2})[.,](\d{3})"
)


def _ts_ms(block: Column, h_grp: int) -> Column:
    """Milliseconds for one side of the cue's timestamp line
    (``h_grp`` = regex group index of the optional hours field; the
    following three groups are minutes/seconds/millis).  NULL when
    the line does not parse."""
    h = F.regexp_extract(block, _SUBTITLE_TS_RX, h_grp)
    m = F.regexp_extract(block, _SUBTITLE_TS_RX, h_grp + 1)
    s = F.regexp_extract(block, _SUBTITLE_TS_RX, h_grp + 2)
    ms = F.regexp_extract(block, _SUBTITLE_TS_RX, h_grp + 3)
    return F.when(
        m != F.lit(""),
        F.coalesce(F.nullif(h, F.lit("")).cast("long"), F.lit(0))
        * 3600000
        + m.cast("long") * 60000
        + s.cast("long") * 1000
        + ms.cast("long"),
    )


def subtitle_cues(
    df: DataFrame,
    content_col: str = "content",
    id_col: str = "id",
) -> DataFrame:
    """Parse SRT / WebVTT subtitle text into cue rows — the timed-text
    face of a video corpus (caption-frame training pairs need it).
    One grammar serves both formats: normalize line endings, split on
    blank lines into blocks, keep blocks containing a ``-->``
    timestamp line (the WEBVTT header, NOTE/STYLE/REGION blocks, and
    stray comments carry none), read ``[HH:]MM:SS[.,]mmm`` pairs
    (SRT's comma+hours and VTT's dot+optional-hours alike, cue
    settings after the times tolerated), and take the cue TEXT as
    everything after the timestamp line — so SRT's numeric index line
    and VTT's optional cue identifier line are skipped identically,
    which is why an SRT and a VTT packaging of the same cues parse to
    IDENTICAL rows (pinned by the fixture oracle).  A cue whose
    timestamps do not parse, or whose end precedes its start, flags
    ``ok=false`` with NULL times (text still extracted) — honest,
    never silently wrong.  ``cue_idx`` numbers the ARROW blocks per
    document (a per-id window; groups are cue-count sized, so the
    shuffle is skew-free).  Everything is Catalyst expressions —
    regexp/split/posexplode, no Python UDFs, whole-stage codegen."""
    txt = F.regexp_replace(F.col(content_col), r"\r\n?", "\n")
    ex = (
        df.select(F.col(id_col).alias("id"), txt.alias("_t"))
        .select(
            "id",
            F.posexplode(F.split(F.col("_t"), r"\n{2,}")).alias(
                "_pos", "_block"
            ),
        )
        .filter(F.col("_block").contains("-->"))
    )
    w = Window.partitionBy("id").orderBy("_pos")
    start = _ts_ms(F.col("_block"), 1)
    end = _ts_ms(F.col("_block"), 5)
    text = F.regexp_replace(
        F.regexp_extract(
            F.col("_block"), r"(?s)(?:^|\n)[^\n]*-->[^\n]*\n?(.*)$", 1
        ),
        # the file's final newline rides into the last block; it is
        # not cue text
        r"\n+$",
        "",
    )
    return ex.select(
        "id",
        (F.row_number().over(w) - 1).cast("int").alias("cue_idx"),
        start.alias("_s"),
        end.alias("_e"),
        text.alias("text"),
    ).select(
        "id",
        "cue_idx",
        F.when(F.col("_s") <= F.col("_e"), F.col("_s")).alias(
            "start_ms"
        ),
        F.when(F.col("_s") <= F.col("_e"), F.col("_e")).alias("end_ms"),
        "text",
        (F.col("_s").isNotNull() & (F.col("_s") <= F.col("_e"))).alias(
            "ok"
        ),
    )


def _fmt_srt_ts(ms: int) -> str:
    return "%02d:%02d:%02d,%03d" % (
        ms // 3600000, ms // 60000 % 60, ms // 1000 % 60, ms % 1000
    )


def _fmt_vtt_ts(ms: int) -> str:
    # WebVTT: hours optional — omit them (fixture stays < 1 h), so the
    # parse exercises the optional-hours branch
    return "%02d:%02d.%03d" % (ms // 60000, ms // 1000 % 60, ms % 1000)


def _builder_memo(key_expr):
    """Per-worker fixture-builder memoization on the brute-force-
    verified reduced key (r19 opt round; same contract as
    operators/multimodal._fixture_memo — byte-identical blobs,
    bench rows measure the operators instead of fixture encoding)."""
    def deco(build):
        from ..operators.multimodal import _fixture_memo

        return _fixture_memo(key_expr)(build)
    return deco


@_builder_memo(lambda d: (d % 4, (d // 4) % 2, d % 17 == 0))
def build_subtitle_text(doc_id: int) -> str:
    """Subtitle fixture: class ``doc_id %% 4`` has ``2 + cls`` cues;
    cue ``j`` spans ``[800j + 13·cls, 800j + 13·cls + 900 + 7j)`` ms
    with deterministic text (two lines on odd ``j`` — the multi-line
    join case).  ``(doc_id // 4) %% 2`` picks the PACKAGING: 0 = SRT
    (numeric index lines, comma timestamps), 1 = WebVTT (header,
    a NOTE block, cue identifier lines, dot timestamps without
    hours, a cue-settings suffix) — both must parse to IDENTICAL
    rows.  ``doc_id %% 17 == 0`` garbles the LAST cue's timestamp
    line (ok=false, NULL times, text kept)."""
    cls = doc_id % 4
    vtt = (doc_id // 4) % 2 == 1
    n = 2 + cls
    blocks = []
    if vtt:
        blocks.append("WEBVTT")
        blocks.append("NOTE\nfixture comment block, no arrow here")
    for j in range(n):
        s = 800 * j + 13 * cls
        e = s + 900 + 7 * j
        if doc_id % 17 == 0 and j == n - 1:
            ts = "xx:yy --> garbled"
        elif vtt:
            ts = "%s --> %s position:10%%,line-left" % (
                _fmt_vtt_ts(s), _fmt_vtt_ts(e)
            )
        else:
            ts = "%s --> %s" % (_fmt_srt_ts(s), _fmt_srt_ts(e))
        text = "cue %d of class %d line one" % (j, cls)
        if j % 2 == 1:
            text += "\nand line two (%d)" % j
        if vtt:
            blocks.append("ident-%d\n%s\n%s" % (j, ts, text))
        else:
            blocks.append("%d\n%s\n%s" % (j + 1, ts, text))
    return "\n\n".join(blocks) + "\n"


def attach_subtitle_text(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the subtitle fixture text — built with
    Catalyst ``transform``/``concat`` would be opaque; a tiny Arrow
    batch keeps the builder the readable twin of the parser."""
    return attach_blobs(
        df, build_subtitle_text, id_col, "id long, content string"
    )


# ---- DOCX: office documents ride the zip source ----------------------
_DOCX_ENTITIES = {
    "amp": "&", "lt": "<", "gt": ">", "quot": '"', "apos": "'",
}


def _docx_unescape(s: str) -> str:
    import re as _re

    def sub(m):
        e = m.group(1)
        if e.startswith("#x") or e.startswith("#X"):
            return chr(int(e[2:], 16))
        if e.startswith("#"):
            return chr(int(e[1:]))
        return _DOCX_ENTITIES.get(e, m.group(0))

    return _re.sub(r"&([A-Za-z]+|#x[0-9A-Fa-f]+|#[0-9]+);", sub, s)


def docx_extract(b: bytes):
    """(n_paragraphs, text) from a DOCX payload, or None when torn —
    the composition the zip source exists for: central-directory walk
    (per-member CRC — bit rot in ``word/document.xml`` flags, never
    yields wrong text) → WordprocessingML text runs.  Paragraphs
    (``</w:p>``) become newlines, ``<w:t>`` runs concatenate (Word
    splits runs mid-word on formatting boundaries — the split must be
    invisible), ``<w:tab/>`` becomes a tab, XML entities decode.
    Missing ``word/document.xml`` or an undecodable member is an
    honest None."""
    import re as _re

    from ..sources.zip import iter_zip_members

    doc_xml = None
    for _idx, name, _size, content, ok in iter_zip_members(b):
        if name == "word/document.xml":
            if not ok:
                return None  # CRC-caught corruption: refuse
            doc_xml = content
            break
    if doc_xml is None:
        return None
    try:
        xml = doc_xml.decode("utf-8")
    except UnicodeDecodeError:
        return None
    paras = []
    for pm in _re.finditer(r"<w:p[ >].*?</w:p>", xml, _re.S):
        seg = pm.group(0)
        parts = []
        for tm in _re.finditer(
            r"<w:t(?:[ ][^>]*)?>(.*?)</w:t>|<w:tab/>", seg, _re.S
        ):
            parts.append(
                "\t" if tm.group(0) == "<w:tab/>"
                else _docx_unescape(tm.group(1))
            )
        paras.append("".join(parts))
    return len(paras), "\n".join(paras)


def docx_text(
    df: DataFrame, content_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """(id, n_paragraphs, n_chars, text, ok) per DOCX payload — the
    office-document text face, built ENTIRELY from existing tiers
    (zip member walk + map-side extraction).  Map-side Arrow
    batches, no shuffle; torn/corrupt/missing-part payloads flag
    (the ``map_payloads`` contract)."""

    def ex(b):
        got = docx_extract(b)
        if got is None:
            return None
        np_, text_s = got
        return np_, len(text_s), text_s

    return _office_text_face(
        df, ex,
        "id long, n_paragraphs int, n_chars int, text string, "
        "ok boolean",
        content_col, id_col,
    )


def docx_encode(paragraphs: list, split_runs: bool = False) -> bytes:
    """Minimal DOCX writer — the fixture twin of ``docx_extract``:
    a stored-method zip with ``[Content_Types].xml`` and
    ``word/document.xml``; each paragraph one ``<w:p>``;
    ``split_runs=True`` splits every paragraph's text mid-word into
    multiple ``<w:t xml:space="preserve">`` runs (what real Word
    emits) — extraction must be identical either way.  Tabs become
    ``<w:tab/>``; XML specials are entity-escaped."""
    from ..sources.zip import zip_encode

    def esc(s):
        return (
            s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;")
        )

    body = []
    for p in paragraphs:
        runs = []
        for piece in p.split("\t"):
            if split_runs and len(piece) > 4:
                half = len(piece) // 2
                runs.append(
                    '<w:r><w:t xml:space="preserve">%s</w:t></w:r>'
                    '<w:r><w:t xml:space="preserve">%s</w:t></w:r>'
                    % (esc(piece[:half]), esc(piece[half:]))
                )
            else:
                runs.append("<w:r><w:t>%s</w:t></w:r>" % esc(piece))
        body.append(
            "<w:p >%s</w:p>"
            % "<w:r><w:tab/></w:r>".join(runs)
        )
    xml = (
        '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
        '<w:document xmlns:w="http://schemas.openxmlformats.org/'
        'wordprocessingml/2006/main"><w:body>%s</w:body>'
        "</w:document>" % "".join(body)
    )
    return zip_encode([
        ("[Content_Types].xml", b"<Types/>"),
        ("word/document.xml", xml.encode("utf-8")),
    ])


@_builder_memo(lambda d: (d % 4, (d // 4) % 2, d % 13 == 0, d % 17 == 0))
def build_docx_blob(doc_id: int) -> bytes:
    """DOCX fixture: class ``doc_id %% 4`` has ``2 + cls`` paragraphs
    of deterministic text (one carries a TAB and XML specials
    ``& < >``); variant ``(doc_id // 4) %% 2`` splits every run
    mid-word with ``xml:space='preserve'`` attributes (identical
    extracted text — the run-splitting-transparency claim).
    ``doc_id %% 17 == 0`` flips one byte inside ``word/document.xml``
    (the zip member CRC catches it → ok=false); else ``%% 13 == 0``
    drops the part (renamed member → ok=false)."""
    cls = doc_id % 4
    paras = [
        "class %d paragraph %d with some words" % (cls, k)
        for k in range(2 + cls)
    ]
    paras[0] += "\tafter a tab & specials < >"
    blob = docx_encode(paras, split_runs=((doc_id // 4) % 2 == 1))
    if doc_id % 17 == 0:
        i = blob.index(b"<w:body>") + 2
        return blob[:i] + bytes([blob[i] ^ 0x41]) + blob[i + 1:]
    if doc_id % 13 == 0:
        return blob.replace(b"word/document.xml",
                            b"word/document.bak", 2)
    return blob


def attach_docx_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the DOCX fixture blobs."""
    return attach_blobs(df, build_docx_blob, id_col)


# ---- XLSX / PPTX: the remaining office mass rides the zip source -----
# Same architecture as DOCX (reference has no office tier — this is
# the LLM-pipeline surface): central-directory walk with per-member
# CRC, then the OOXML part grammar via the same entity-decoding run
# concatenation.  Catalyst keeps the plan map-side (one Arrow
# mapInPandas projection, no shuffle); a 100 TB crawl shard of office
# documents extracts at scan parallelism.


def _ooxml_part(b: bytes, want: str):
    """Decoded text of one zip member, or the marker strings
    ``'torn'`` (CRC-caught corruption) / ``'missing'``."""
    for _idx, name, _size, content, ok in iter_zip_members_for_office(b):
        if name == want:
            if not ok:
                return None, "torn"
            try:
                return content.decode("utf-8"), None
            except UnicodeDecodeError:
                return None, "torn"
    return None, "missing"


def iter_zip_members_for_office(b: bytes):
    from ..sources.zip import iter_zip_members

    return iter_zip_members(b)


def _ooxml_numbered_parts(b: bytes, pattern: str):
    """All members matching ``pattern`` (one ``(\\d+)`` group),
    decoded and ordered by that number → list of (num, text) or None
    when any matching member is CRC-torn/undecodable."""
    import re as _re

    rx = _re.compile(pattern)
    out = []
    for _idx, name, _size, content, ok in iter_zip_members_for_office(b):
        if name is None:
            return None  # unreadable archive row
        m = rx.fullmatch(name)
        if not m:
            continue
        if not ok:
            return None
        try:
            out.append((int(m.group(1)), content.decode("utf-8")))
        except (UnicodeDecodeError, ValueError):
            return None
    out.sort()
    return out


def _xlsx_shared_strings(xml: str) -> list:
    """``<si>`` entries of ``xl/sharedStrings.xml`` — each is the
    concatenation of its ``<t>`` runs (rich-text ``<r>`` wrappers are
    transparent, like DOCX split runs)."""
    import re as _re

    out = []
    for sm in _re.finditer(r"<si>(.*?)</si>", xml, _re.S):
        out.append(
            "".join(
                _docx_unescape(tm.group(1))
                for tm in _re.finditer(
                    r"<t(?:[ ][^>]*)?>(.*?)</t>", sm.group(1), _re.S
                )
            )
        )
    return out


def xlsx_extract(b: bytes):
    """(n_sheets, n_cells, text) from an XLSX payload, or None when
    torn — SpreadsheetML over the zip source.  Worksheets are read in
    sheet-number order and must MATCH the count ``xl/workbook.xml``
    declares (a missing/renamed sheet part is a torn document, not a
    shorter one).  Within a sheet: rows become lines, cells join with
    tabs; ``t="s"`` cells resolve through ``xl/sharedStrings.xml``
    (an out-of-range index refuses — no guessing), ``t="inlineStr"``
    concatenates its ``<t>`` runs, numeric/formula-string cells keep
    the raw ``<v>`` token; entities decode.  Sheets join with
    newlines."""
    import re as _re

    wb, why = _ooxml_part(b, "xl/workbook.xml")
    if wb is None:
        return None
    # optional namespace prefix: workbooks written with a prefixed
    # SpreadsheetML namespace declare sheets as <x:sheet .../>
    # (r16 ADVICE)
    declared = len(_re.findall(r"<(?:\w+:)?sheet[ /]", wb))
    sheets = _ooxml_numbered_parts(
        b, r"xl/worksheets/sheet(\d+)\.xml"
    )
    if sheets is None or len(sheets) != declared or not sheets:
        return None
    ss_xml, ss_why = _ooxml_part(b, "xl/sharedStrings.xml")
    if ss_why == "torn":
        return None
    shared = _xlsx_shared_strings(ss_xml) if ss_xml is not None else []
    lines = []
    n_cells = 0
    for _num, xml in sheets:
        for rm in _re.finditer(
            r"<row[^>]*/>|<row(?:[ ][^>]*)?>(.*?)</row>", xml, _re.S
        ):
            body = rm.group(1)
            if body is None:
                lines.append("")
                continue
            cells = []
            for cm in _re.finditer(
                r"<c(?:\s+([^>]*?))?\s*(?:/>|>(.*?)</c>)", body, _re.S
            ):
                n_cells += 1
                attrs = cm.group(1) or ""
                inner = cm.group(2)
                if inner is None:
                    cells.append("")
                    continue
                tm = _re.search(r'\bt="([^"]*)"', attrs)
                ctype = tm.group(1) if tm else "n"
                if ctype == "inlineStr":
                    cells.append(
                        "".join(
                            _docx_unescape(t.group(1))
                            for t in _re.finditer(
                                r"<t(?:[ ][^>]*)?>(.*?)</t>",
                                inner, _re.S,
                            )
                        )
                    )
                    continue
                vm = _re.search(r"<v>(.*?)</v>", inner, _re.S)
                if vm is None:
                    cells.append("")
                    continue
                val = _docx_unescape(vm.group(1))
                if ctype == "s":
                    try:
                        idx = int(val)
                    except ValueError:
                        return None
                    if not 0 <= idx < len(shared):
                        return None  # index lie: refuse, never guess
                    cells.append(shared[idx])
                else:  # n / str / b / e keep the raw token
                    cells.append(val)
            lines.append("\t".join(cells))
    return len(sheets), n_cells, "\n".join(lines)


def pptx_extract(b: bytes):
    """(n_slides, text) from a PPTX payload, or None when torn —
    DrawingML text over the zip source.  Slides are read in
    slide-number order and must match the ``<p:sldId>`` count
    ``ppt/presentation.xml`` declares; within a slide each ``<a:p>``
    paragraph is a line (its ``<a:t>`` runs concatenate — text boxes
    split runs on formatting exactly like Word), entities decode."""
    import re as _re

    pres, _why = _ooxml_part(b, "ppt/presentation.xml")
    if pres is None:
        return None
    # any (or no) namespace prefix — writers are not obliged to bind
    # presentationML to "p:" (r16 ADVICE)
    declared = len(_re.findall(r"<(?:\w+:)?sldId[ /]", pres))
    slides = _ooxml_numbered_parts(b, r"ppt/slides/slide(\d+)\.xml")
    if slides is None or len(slides) != declared or not slides:
        return None
    lines = []
    for _num, xml in slides:
        for pm in _re.finditer(r"<a:p>(.*?)</a:p>", xml, _re.S):
            lines.append(
                "".join(
                    _docx_unescape(t.group(1))
                    for t in _re.finditer(
                        r"<a:t>(.*?)</a:t>", pm.group(1), _re.S
                    )
                )
            )
    return len(slides), "\n".join(lines)


def _office_text_face(df, extract, schema, content_col, id_col):
    """Shared face for the office extractors: ``extract(b)`` returns
    the row tail without its trailing ``ok``, or ``None`` for a plant
    that flags (all-NULL fields, ``ok=false``)."""
    schema = _struct(schema)
    bad = ((None,) * (len(schema.fields) - 2) + (False,),)

    def tail(b: bytes):
        got = extract(b)
        return bad if got is None else (got + (True,),)

    return map_payloads(df, tail, schema, content_col, id_col, bad)


def xlsx_text(
    df: DataFrame, content_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """(id, n_sheets, n_cells, n_chars, text, ok) per XLSX payload."""

    def ex(b):
        got = xlsx_extract(b)
        if got is None:
            return None
        ns, nc, t = got
        return ns, nc, len(t), t

    return _office_text_face(
        df, ex,
        "id long, n_sheets int, n_cells int, n_chars int, "
        "text string, ok boolean",
        content_col, id_col,
    )


def pptx_text(
    df: DataFrame, content_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """(id, n_slides, n_chars, text, ok) per PPTX payload."""

    def ex(b):
        got = pptx_extract(b)
        if got is None:
            return None
        ns, t = got
        return ns, len(t), t

    return _office_text_face(
        df, ex,
        "id long, n_slides int, n_chars int, text string, ok boolean",
        content_col, id_col,
    )


def xlsx_encode(
    sheets: list, inline: bool = False, wb_ns_prefix: str = ""
) -> bytes:
    """Minimal XLSX writer — the fixture twin of ``xlsx_extract``:
    ``sheets`` is a list of sheets, each a list of rows, each a list
    of cells (str or int).  String cells write through a DEDUPED
    ``xl/sharedStrings.xml`` (``inline=False`` — exercises index
    reuse) or as ``t="inlineStr"`` runs (``inline=True``) — extracted
    text must be identical either way; ints write as ``<v>`` numbers;
    XML specials entity-escape."""
    from ..sources.zip import zip_encode

    def esc(s):
        return (
            s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;")
        )

    shared: dict = {}
    members = []
    sheet_xmls = []
    for rows in sheets:
        out = []
        for r, row in enumerate(rows):
            cs = []
            for c, cell in enumerate(row):
                ref = "%s%d" % (chr(ord("A") + c), r + 1)
                if isinstance(cell, int):
                    cs.append('<c r="%s"><v>%d</v></c>' % (ref, cell))
                elif inline:
                    half = max(1, len(cell) // 2)
                    cs.append(
                        '<c r="%s" t="inlineStr"><is>'
                        '<t xml:space="preserve">%s</t>'
                        '<t xml:space="preserve">%s</t></is></c>'
                        % (ref, esc(cell[:half]), esc(cell[half:]))
                    )
                else:
                    idx = shared.setdefault(cell, len(shared))
                    cs.append(
                        '<c r="%s" t="s"><v>%d</v></c>' % (ref, idx)
                    )
            out.append('<row r="%d">%s</row>' % (r + 1, "".join(cs)))
        sheet_xmls.append(
            '<?xml version="1.0"?><worksheet><sheetData>%s'
            "</sheetData></worksheet>" % "".join(out)
        )
    # wb_ns_prefix="x:" writes namespace-prefixed workbook sheets —
    # a valid SpreadsheetML spelling the reader must count (r16
    # ADVICE)
    wb = "".join(
        '<%ssheet name="S%d" sheetId="%d" r:id="rId%d"/>'
        % (wb_ns_prefix, k, k, k)
        for k in range(1, len(sheets) + 1)
    )
    members.append((
        "[Content_Types].xml", b"<Types/>",
    ))
    members.append((
        "xl/workbook.xml",
        ('<?xml version="1.0"?><workbook><sheets>%s</sheets>'
         "</workbook>" % wb).encode(),
    ))
    if shared and not inline:
        by_idx = sorted(shared, key=shared.get)
        ss = "".join(
            "<si><r><t xml:space=\"preserve\">%s</t></r></si>"
            % esc(s) for s in by_idx
        )
        members.append((
            "xl/sharedStrings.xml",
            ('<?xml version="1.0"?><sst count="%d" uniqueCount="%d">'
             "%s</sst>" % (len(by_idx), len(by_idx), ss)).encode(),
        ))
    for k, xml in enumerate(sheet_xmls, 1):
        members.append((
            "xl/worksheets/sheet%d.xml" % k, xml.encode(),
        ))
    return zip_encode(members)


def pptx_encode(
    slides: list, split_runs: bool = False, sldid_prefix: str = "p:"
) -> bytes:
    """Minimal PPTX writer — the fixture twin of ``pptx_extract``:
    ``slides`` is a list of slides, each a list of paragraph strings;
    ``split_runs=True`` splits every paragraph mid-word into two
    ``<a:r>`` runs (identical extracted text)."""
    from ..sources.zip import zip_encode

    def esc(s):
        return (
            s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;")
        )

    members = [("[Content_Types].xml", b"<Types/>")]
    # sldid_prefix="" (or any other binding) is equally valid
    # presentationML — the reader counts sldId regardless (r16 ADVICE)
    sld = "".join(
        '<%ssldId id="%d" r:id="rId%d"/>' % (sldid_prefix, 255 + k, k)
        for k in range(1, len(slides) + 1)
    )
    members.append((
        "ppt/presentation.xml",
        ('<?xml version="1.0"?><p:presentation><p:sldIdLst>%s'
         "</p:sldIdLst></p:presentation>" % sld).encode(),
    ))
    for k, paras in enumerate(slides, 1):
        body = []
        for p in paras:
            if split_runs and len(p) > 4:
                half = len(p) // 2
                runs = (
                    "<a:r><a:t>%s</a:t></a:r><a:r><a:t>%s</a:t></a:r>"
                    % (esc(p[:half]), esc(p[half:]))
                )
            else:
                runs = "<a:r><a:t>%s</a:t></a:r>" % esc(p)
            body.append("<a:p>%s</a:p>" % runs)
        members.append((
            "ppt/slides/slide%d.xml" % k,
            ('<?xml version="1.0"?><p:sld><p:cSld><p:spTree>%s'
             "</p:spTree></p:cSld></p:sld>" % "".join(body)).encode(),
        ))
    return zip_encode(members)


@_builder_memo(lambda d: (d % 4, (d // 4) % 2, d % 13 == 0, d % 17 == 0))
def build_xlsx_blob(doc_id: int) -> bytes:
    """XLSX fixture: class ``doc_id %% 4`` has ``1 + cls %% 2`` sheets
    × ``3 + cls`` rows × 3 cells — a shared-string word (5 distinct
    strings, so sharing/dedup is exercised), a number, and a literal
    with XML specials; variant ``(doc_id // 4) %% 2`` re-encodes every
    string cell as inlineStr split runs (identical extracted text).
    ``doc_id %% 17 == 0`` flips one byte inside sheet1 (member CRC
    catches it → ok=false); else ``%% 13 == 0`` renames sheet1 (the
    workbook-declared count mismatches → ok=false)."""
    cls = doc_id % 4
    sheets = [
        [
            [
                "word%d" % ((r * 7 + s) % 5),
                r * 13 + s,
                "cell r%d & <x>" % r,
            ]
            for r in range(3 + cls)
        ]
        for s in range(1 + cls % 2)
    ]
    blob = xlsx_encode(sheets, inline=((doc_id // 4) % 2 == 1))
    if doc_id % 17 == 0:
        i = blob.index(b"<sheetData>") + 3
        return blob[:i] + bytes([blob[i] ^ 0x41]) + blob[i + 1:]
    if doc_id % 13 == 0:
        return blob.replace(
            b"xl/worksheets/sheet1.xml", b"xl/worksheets/shee_1.xml", 2
        )
    return blob


@_builder_memo(lambda d: (d % 4, (d // 4) % 2, d % 13 == 0, d % 17 == 0))
def build_pptx_blob(doc_id: int) -> bytes:
    """PPTX fixture: class ``doc_id %% 4`` has ``1 + cls`` slides,
    slide ``s`` carrying ``2 + s %% 2`` paragraphs of deterministic
    text (the first has XML specials); variant ``(doc_id // 4) %% 2``
    splits runs mid-word (identical text).  ``%% 17`` flips a byte in
    slide1 (CRC → ok=false); else ``%% 13`` renames slide1 (declared
    sldId count mismatches → ok=false)."""
    cls = doc_id % 4
    slides = []
    for s in range(1 + cls):
        paras = [
            "slide %d para %d of class %d" % (s, k, cls)
            for k in range(2 + s % 2)
        ]
        if s == 0:
            paras[0] += " & specials < >"
        slides.append(paras)
    blob = pptx_encode(slides, split_runs=((doc_id // 4) % 2 == 1))
    if doc_id % 17 == 0:
        i = blob.index(b"<p:spTree>") + 3
        return blob[:i] + bytes([blob[i] ^ 0x41]) + blob[i + 1:]
    if doc_id % 13 == 0:
        return blob.replace(
            b"ppt/slides/slide1.xml", b"ppt/slides/slid_1.xml", 2
        )
    return blob


def attach_xlsx_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the XLSX fixture blobs."""
    return attach_blobs(df, build_xlsx_blob, id_col)


def attach_pptx_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the PPTX fixture blobs."""
    return attach_blobs(df, build_pptx_blob, id_col)


# ---- EPUB / RTF: the remaining document-container text mass ----------


def _xhtml_to_text(xml: str) -> str:
    """Tag-strip + whitespace-collapse for EPUB chapter XHTML —
    mirrors the wet-extraction collapse semantics (tags → space,
    runs of whitespace → one space, trim) so book text joins the
    same downstream text tiers."""
    import re as _re

    xml = _re.sub(
        r"<(head|script|style)[ >].*?</\1>", " ", xml,
        flags=_re.S | _re.I,
    )
    no_tags = _re.sub(r"<[^>]*>", " ", xml)
    return _re.sub(r"\s+", " ", _docx_unescape(no_tags)).strip()


def epub_extract(b: bytes):
    """(n_chapters, text) from an EPUB payload, or None when torn —
    the book container over the zip source: ``META-INF/
    container.xml`` names the OPF package, whose manifest maps ids to
    hrefs and whose SPINE fixes reading order (zip member order is
    irrelevant and the fixture shuffles it to prove that).  Each
    spine chapter's XHTML strips to collapsed text; chapters join
    with newlines.  Missing container/OPF/spine or any CRC-torn
    member is an honest None."""
    import posixpath
    import re as _re

    members = {}
    for _i, name, _sz, content, ok in iter_zip_members_for_office(b):
        if name is None:
            return None  # unreadable archive: no trustworthy walk
        if name == "META-INF/container.xml" or name.endswith(
            (".opf", ".xhtml", ".html", ".htm")
        ):
            if not ok:
                return None
            members[name] = content
    container = members.get("META-INF/container.xml")
    if container is None:
        return None
    try:
        cx = container.decode("utf-8")
    except UnicodeDecodeError:
        return None
    m = _re.search(r'full-path="([^"]+)"', cx)
    if not m:
        return None
    opf_path = _docx_unescape(m.group(1))
    opf = members.get(opf_path)
    if opf is None:
        return None
    try:
        ox = opf.decode("utf-8")
    except UnicodeDecodeError:
        return None
    base = posixpath.dirname(opf_path)
    manifest = {}
    for im in _re.finditer(r"<item\s+([^>]*?)/?>", ox):
        attrs = im.group(1)
        mid = _re.search(r'\bid="([^"]+)"', attrs)
        href = _re.search(r'\bhref="([^"]+)"', attrs)
        if mid and href:
            manifest[mid.group(1)] = _docx_unescape(href.group(1))
    chapters = []
    for sm in _re.finditer(r"<itemref\s+([^>]*?)/?>", ox):
        idref = _re.search(r'\bidref="([^"]+)"', sm.group(1))
        if not idref:
            return None
        href = manifest.get(idref.group(1))
        if href is None:
            return None  # spine references a missing manifest id
        path = posixpath.normpath(posixpath.join(base, href))
        data = members.get(path)
        if data is None:
            return None  # spine chapter absent/torn: no partial book
        try:
            chapters.append(_xhtml_to_text(data.decode("utf-8")))
        except UnicodeDecodeError:
            return None
    if not chapters:
        return None
    return len(chapters), "\n".join(chapters)


def epub_text(
    df: DataFrame, content_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """(id, n_chapters, n_chars, text, ok) per EPUB payload."""

    def ex(b):
        got = epub_extract(b)
        if got is None:
            return None
        nc, t = got
        return nc, len(t), t

    return _office_text_face(
        df, ex,
        "id long, n_chapters int, n_chars int, text string, "
        "ok boolean",
        content_col, id_col,
    )


def epub_encode(chapters: list, shuffle: bool = False) -> bytes:
    """Minimal EPUB writer — the fixture twin of ``epub_extract``:
    mimetype, container.xml → ``OEBPS/content.opf`` (manifest +
    spine), one XHTML file per chapter.  ``shuffle=True`` stores the
    chapter FILES in reverse zip order — extraction must follow the
    spine, not the archive."""
    from ..sources.zip import zip_encode

    def esc(s):
        return (
            s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;")
        )

    chapter_files = []
    items = []
    refs = []
    for k, text in enumerate(chapters):
        fname = "OEBPS/chap%d.xhtml" % k
        paras = "".join(
            "<p>%s</p>" % esc(p) for p in text.split("\n")
        )
        xhtml = (
            '<?xml version="1.0"?><html><head><title>c%d</title>'
            "</head><body>%s</body></html>" % (k, paras)
        )
        chapter_files.append((fname, xhtml.encode("utf-8")))
        items.append(
            '<item id="c%d" href="chap%d.xhtml" '
            'media-type="application/xhtml+xml"/>' % (k, k)
        )
        refs.append('<itemref idref="c%d"/>' % k)
    opf = (
        '<?xml version="1.0"?><package version="3.0">'
        "<manifest>%s</manifest><spine>%s</spine></package>"
        % ("".join(items), "".join(refs))
    ).encode()
    container = (
        '<?xml version="1.0"?><container><rootfiles>'
        '<rootfile full-path="OEBPS/content.opf" '
        'media-type="application/oebps-package+xml"/>'
        "</rootfiles></container>"
    ).encode()
    if shuffle:
        chapter_files = chapter_files[::-1]
    return zip_encode(
        [("mimetype", b"application/epub+zip"),
         ("META-INF/container.xml", container),
         ("OEBPS/content.opf", opf)]
        + chapter_files
    )


@_builder_memo(lambda d: (d % 4, (d // 4) % 2, d % 13 == 0, d % 17 == 0))
def build_epub_blob(doc_id: int) -> bytes:
    """EPUB fixture: class ``doc_id %% 4`` has ``2 + cls`` chapters
    of deterministic text (entities in chapter 0); variant ``(doc_id
    // 4) %% 2`` stores chapter files in REVERSE zip order (spine
    order must win).  ``%% 17`` flips a byte in chapter 0 (CRC →
    ok=false); else ``%% 13`` renames the OPF (ok=false)."""
    cls = doc_id % 4
    chapters = [
        "chapter %d of class %d with book words\nsecond line %d"
        % (k, cls, k)
        for k in range(2 + cls)
    ]
    chapters[0] += "\nerrata & updates < >"
    blob = epub_encode(chapters, shuffle=((doc_id // 4) % 2 == 1))
    if doc_id % 17 == 0:
        i = blob.index(b"<body>") + 3
        return blob[:i] + bytes([blob[i] ^ 0x41]) + blob[i + 1:]
    if doc_id % 13 == 0:
        return blob.replace(b"OEBPS/content.opf", b"OEBPS/content.op_", 2)
    return blob


def attach_epub_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the EPUB fixture blobs."""
    return attach_blobs(df, build_epub_blob, id_col)


_RTF_SKIP_DESTS = frozenset((
    "fonttbl", "colortbl", "stylesheet", "info", "pict",
    "header", "footer", "footnote", "operator", "themedata",
    "colorschememapping", "generator",
))


def rtf_extract(b: bytes):
    """(n_paragraphs, text) from an RTF payload, or None when torn —
    the legacy word-processing mass: group-aware control-word walk
    with destination skipping (fonttbl/colortbl/stylesheet/info/pict
    and every ``{\\*…}`` except ``{\\*\\ud …}`` alternate-Unicode
    destinations, whose text is real; ``\\upr`` suppresses its ANSI
    twin so the pair emits once), ``\\par``/``\\line`` → newline, ``\\tab``
    → tab, ``\\'hh`` cp1252 hex escapes, ``\\uN`` unicode escapes
    with ``\\ucN`` fallback-skip accounting, ``\\binN`` binary skip,
    brace/backslash literals.  Unbalanced groups, a missing
    ``{\\rtf`` head, or an undecodable cp1252 byte are an honest
    None."""
    if not b.startswith(b"{\\rtf"):
        return None
    out: list = []
    i = 0
    n = len(b)
    depth = 0
    # per-group state: (skipping, uc_count)
    stack: list = []
    skipping = False
    uc = 1
    pending_uc_skip = 0

    def emit(s: str):
        if not skipping and pending_uc_skip == 0:
            out.append(s)

    while i < n:
        c = b[i]
        if c == 0x7B:  # {
            stack.append((skipping, uc))
            depth += 1
            i += 1
        elif c == 0x7D:  # }
            if not stack:
                return None  # underflow: torn
            skipping, uc = stack.pop()
            depth -= 1
            i += 1
            if depth == 0:
                break  # the document group closed
        elif c == 0x5C:  # backslash
            if i + 1 >= n:
                return None
            nx = b[i + 1]
            if nx in b"\\{}":
                if pending_uc_skip:
                    pending_uc_skip -= 1
                else:
                    emit(chr(nx))
                i += 2
            elif nx == 0x27:  # \'hh
                if i + 4 > n:
                    return None
                try:
                    ch = bytes([int(b[i + 2:i + 4], 16)]).decode(
                        "cp1252"
                    )
                except (ValueError, UnicodeDecodeError):
                    return None
                if pending_uc_skip:
                    pending_uc_skip -= 1
                else:
                    emit(ch)
                i += 4
            elif nx == 0x2A:  # \* : skip-unknown destination …
                # … EXCEPT \*\ud: the Unicode alternative of a
                # {\upr{ansi}{\*\ud{unicode}}} pair (the \upr handler
                # suppressed the ANSI twin) or a bare alternate-
                # Unicode destination — both carry real document
                # text (r16 ADVICE).  Inside a named skip
                # destination (fonttbl, pict, …) it stays skipped.
                j = i + 2
                is_ud = b[j:j + 3] == b"\\ud" and not (
                    j + 3 < n
                    and (0x61 <= b[j + 3] <= 0x7A
                         or 0x41 <= b[j + 3] <= 0x5A)
                )
                if is_ud and skipping in (False, "upr"):
                    skipping = False
                else:
                    skipping = skipping or "star"
                i += 2
            elif 0x61 <= nx <= 0x7A or 0x41 <= nx <= 0x5A:
                j = i + 1
                while j < n and (
                    0x61 <= b[j] <= 0x7A or 0x41 <= b[j] <= 0x5A
                ):
                    j += 1
                word = b[i + 1:j].decode("ascii")
                neg = False
                if j < n and b[j] == 0x2D:
                    neg = True
                    j += 1
                num = None
                k = j
                while k < n and 0x30 <= b[k] <= 0x39:
                    k += 1
                if k > j:
                    num = int(b[j:k])
                    if neg:
                        num = -num
                j = k
                if j < n and b[j] == 0x20:
                    j += 1  # the delimiting space is consumed
                i = j
                if word in ("par", "line"):
                    emit("\n")
                elif word == "tab":
                    emit("\t")
                elif word == "uc":
                    uc = num if num is not None and num >= 0 else 1
                elif word == "u" and num is not None:
                    cp = num % 65536
                    if pending_uc_skip:
                        pending_uc_skip -= 1
                    else:
                        emit(chr(cp))
                    pending_uc_skip += 0 if skipping else uc
                elif word == "bin":
                    skip = num or 0
                    if skip < 0 or i + skip > n:
                        return None
                    i += skip
                elif word == "upr":
                    # \upr pairs an ANSI representation with a
                    # {\*\ud …} Unicode twin; a \ud-aware reader
                    # emits ONLY the Unicode side, so suppress the
                    # ANSI text until the \ud whitelist re-enables
                    if not skipping:
                        skipping = "upr"
                elif word in _RTF_SKIP_DESTS:
                    skipping = "dest"
                # other control words: formatting, ignored
            else:
                i += 2  # other control symbol (e.g. \~ \-): ignore
        else:
            j = i
            while j < n and b[j] not in b"\\{}":
                j += 1
            try:
                seg = b[i:j].decode("cp1252")
            except UnicodeDecodeError:
                return None
            seg = seg.replace("\r", "").replace("\n", "")
            if seg:
                if pending_uc_skip:
                    take = min(pending_uc_skip, len(seg))
                    pending_uc_skip -= take
                    seg = seg[take:]
                if seg:
                    emit(seg)
            i = j
    else:
        return None  # ran off the end: unbalanced document group
    text = "".join(out)
    lines = text.split("\n")
    while lines and lines[-1] == "":
        lines.pop()
    text = "\n".join(lines)
    return len(lines), text


def rtf_text(
    df: DataFrame, content_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """(id, n_paragraphs, n_chars, text, ok) per RTF payload."""

    def ex(b):
        got = rtf_extract(b)
        if got is None:
            return None
        np_, t = got
        return np_, len(t), t

    return _office_text_face(
        df, ex,
        "id long, n_paragraphs int, n_chars int, text string, "
        "ok boolean",
        content_col, id_col,
    )


def rtf_encode(paragraphs: list, unicode_escapes: bool = False) -> bytes:
    """Minimal RTF writer — the fixture twin of ``rtf_extract``:
    header with fonttbl/colortbl/info groups (all destinations the
    reader must SKIP), one ``\\par``-terminated paragraph per entry.
    Non-ASCII characters write as ``\\'hh`` cp1252 hex escapes, or
    as ``\\uN?`` unicode escapes when ``unicode_escapes=True`` —
    identical extraction either way."""
    body = []
    for p in paragraphs:
        for ch in p:
            o = ord(ch)
            if ch == "\n":
                body.append("\\line ")
            elif ch == "\t":
                body.append("\\tab ")
            elif ch in "\\{}":
                body.append("\\" + ch)
            elif 32 <= o < 128:
                body.append(ch)
            elif not unicode_escapes:
                enc = ch.encode("cp1252")  # fixture chars stay cp1252
                body.append("\\'%02x" % enc[0])
            else:
                if o >= 32768:
                    o -= 65536
                body.append("\\u%d?" % o)
        body.append("\\par\n")
    doc = (
        "{\\rtf1\\ansi\\deff0"
        "{\\fonttbl{\\f0\\fswiss Helvetica;}{\\f1\\froman Times;}}"
        "{\\colortbl;\\red0\\green0\\blue0;}"
        "{\\*\\generator fixture 1.0;}"
        "{\\info{\\title skipped title}{\\author nobody}}"
        "\\uc1\\f0\\fs24 " + "".join(body) + "}"
    )
    return doc.encode("cp1252")


@_builder_memo(lambda d: (d % 4, (d // 4) % 2, d % 13 == 0, d % 17 == 0))
def build_rtf_blob(doc_id: int) -> bytes:
    """RTF fixture: class ``doc_id %% 4`` has ``2 + cls`` paragraphs
    (specials, a tab, accented cp1252 chars); variant ``(doc_id //
    4) %% 2`` re-encodes non-ASCII as ``\\uN?`` unicode escapes
    (identical text).  ``%% 17`` truncates (unbalanced groups →
    ok=false); else ``%% 13`` injects the cp1252-undefined byte
    0x81 into the text run (undecodable → ok=false)."""
    cls = doc_id % 4
    paras = [
        "class %d paragraph %d with café words" % (cls, k)
        for k in range(2 + cls)
    ]
    paras[0] += "\tafter tab {braces} \\ and ünïcode"
    blob = rtf_encode(paras, unicode_escapes=((doc_id // 4) % 2 == 1))
    if doc_id % 17 == 0:
        return blob[: len(blob) * 2 // 3]
    if doc_id % 13 == 0:
        i = blob.index(b"paragraph")
        return blob[:i] + b"\x81" + blob[i:]
    return blob


def attach_rtf_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the RTF fixture blobs."""
    return attach_blobs(df, build_rtf_blob, id_col)


# ---- EML: RFC 822 / MIME mail — mail corpora are core training mass --


def _eml_decode_part(part):
    """Decoded text of one MIME leaf: transfer encodings reversed
    STRICTLY (base64 validated after whitespace strip — the stdlib
    default silently drops bad chars; a corrupt body must flag, not
    garble), charset decode strict.  Returns None on any lie."""
    import base64

    cte = str(part.get("Content-Transfer-Encoding") or "7bit").strip()
    if cte.lower() == "base64":
        # the stdlib's decode=True silently DROPS invalid base64
        # chars — validate the textual form strictly instead so a
        # corrupt body flags rather than garbles
        s = part.get_payload(decode=False)
        if not isinstance(s, str):
            return None
        try:
            body = base64.b64decode(
                "".join(s.split()), validate=True
            )
        except Exception:
            return None
    else:
        try:
            body = part.get_payload(decode=True)
        except Exception:
            return None
        if body is None:
            return None
    charset = (part.get_content_charset() or "us-ascii").lower()
    try:
        return body.decode(charset)
    except (UnicodeDecodeError, LookupError):
        return None


def eml_extract(b: bytes):
    """(subject, sender, n_parts, text) from an RFC 822 / MIME
    payload, or None when torn — the mail mass: stdlib ``email``
    parses the STRUCTURE (headers, multipart walk, RFC 2047
    encoded-word headers), while transfer encodings and charsets
    decode strictly here (base64 validated, charset strict — a
    corrupt body flags instead of garbling).  multipart/alternative
    prefers text/plain; standalone text/html strips through the
    shared tag-strip; other leaves (attachments) are counted but not
    extracted.  A message with NO decodable text part is an honest
    None."""
    import email
    from email import policy

    try:
        msg = email.message_from_bytes(b, policy=policy.compat32)
    except Exception:
        return None
    if not msg.keys() or msg.get("Subject") is None:
        return None  # not mail: no header block

    def header(name):
        from email.header import decode_header

        v = msg.get(name)
        if v is None:
            return None
        try:
            out = []
            for frag, cs in decode_header(v):
                if isinstance(frag, bytes):
                    out.append(frag.decode(cs or "us-ascii"))
                else:
                    out.append(frag)
            return "".join(out)
        except Exception:
            return None

    subject = header("Subject")
    sender = header("From")
    if subject is None:
        return None
    texts = []
    n_parts = 0

    def walk(m):
        nonlocal n_parts
        if m.is_multipart():
            subtype = m.get_content_subtype()
            parts = m.get_payload()
            if subtype == "alternative":
                # prefer the LAST decodable text/plain, else html
                best = None
                for p in parts:
                    n_parts += 1
                    ct = p.get_content_type()
                    if ct == "text/plain":
                        t = _eml_decode_part(p)
                        if t is None:
                            raise ValueError("torn alternative")
                        best = ("plain", t)
                    elif ct == "text/html" and (
                        best is None or best[0] != "plain"
                    ):
                        t = _eml_decode_part(p)
                        if t is None:
                            raise ValueError("torn alternative")
                        best = ("html", _xhtml_to_text(t))
                if best is not None:
                    texts.append(best[1])
                return
            for p in parts:
                walk(p)
            return
        n_parts += 1
        ct = m.get_content_type()
        if ct == "text/plain":
            t = _eml_decode_part(m)
            if t is None:
                raise ValueError("torn part")
            texts.append(t)
        elif ct == "text/html":
            t = _eml_decode_part(m)
            if t is None:
                raise ValueError("torn part")
            texts.append(_xhtml_to_text(t))

    try:
        walk(msg)
    except ValueError:
        return None
    if not texts:
        return None
    return subject, sender, n_parts, "\n".join(
        t.replace("\r\n", "\n").strip() for t in texts
    )


def eml_text(
    df: DataFrame, content_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """(id, subject, sender, n_parts, n_chars, text, ok) per EML
    payload."""

    def ex(b):
        got = eml_extract(b)
        if got is None:
            return None
        s, f, np_, t = got
        return s, f, np_, len(t), t

    return _office_text_face(
        df, ex,
        "id long, subject string, sender string, n_parts int, "
        "n_chars int, text string, ok boolean",
        content_col, id_col,
    )


def eml_encode(
    subject: str, sender: str, body: str, variant: str = "7bit"
) -> bytes:
    """Minimal deterministic MIME writer — the fixture twin of
    ``eml_extract``.  Variants: ``7bit`` plain ascii-ish (latin-1),
    ``base64`` / ``qp`` re-encode the SAME utf-8 body (identical
    extraction), ``alt`` a multipart/alternative with an html
    rendering FIRST and the plain part second (plain must win),
    ``html`` an html-only message (tag-strip path)."""
    import base64
    import quopri

    def head(extra):
        return (
            "From: %s\r\nTo: list@example.org\r\n"
            "Subject: %s\r\nMIME-Version: 1.0\r\n%s\r\n"
            % (sender, subject, extra)
        ).encode("utf-8")

    if variant == "7bit":
        return head(
            'Content-Type: text/plain; charset="latin-1"\r\n'
            "Content-Transfer-Encoding: 7bit\r\n"
        ) + body.encode("latin-1")
    if variant == "base64":
        enc = base64.encodebytes(body.encode("utf-8"))
        return head(
            'Content-Type: text/plain; charset="utf-8"\r\n'
            "Content-Transfer-Encoding: base64\r\n"
        ) + enc
    if variant == "qp":
        enc = quopri.encodestring(body.encode("utf-8"))
        return head(
            'Content-Type: text/plain; charset="utf-8"\r\n'
            "Content-Transfer-Encoding: quoted-printable\r\n"
        ) + enc
    if variant == "html":
        html = "<html><body><p>%s</p></body></html>" % (
            body.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace("\n", "</p><p>")
        )
        return head(
            'Content-Type: text/html; charset="utf-8"\r\n'
            "Content-Transfer-Encoding: 8bit\r\n"
        ) + html.encode("utf-8")
    if variant == "alt":
        html = "<html><body><p>%s</p></body></html>" % (
            body.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace("\n", "</p><p>")
        )
        b64 = base64.encodebytes(body.encode("utf-8")).decode()
        return head(
            'Content-Type: multipart/alternative; boundary="BNDRY42"'
            "\r\n"
        ) + (
            "--BNDRY42\r\n"
            'Content-Type: text/html; charset="utf-8"\r\n'
            "Content-Transfer-Encoding: 8bit\r\n\r\n%s\r\n"
            "--BNDRY42\r\n"
            'Content-Type: text/plain; charset="utf-8"\r\n'
            "Content-Transfer-Encoding: base64\r\n\r\n%s"
            "--BNDRY42--\r\n" % (html, b64)
        ).encode("utf-8")
    raise ValueError(variant)


@_builder_memo(lambda d: (d % 4, (d // 4) % 5, d % 13 == 0, d % 17 == 0))
def build_eml_blob(doc_id: int) -> bytes:
    """EML fixture: class ``doc_id %% 4`` picks the body/subject
    (accents in class 1+), variant ``(doc_id // 4) %% 5`` the
    packaging from (7bit, base64, qp, html, alt) — all five extract
    the SAME text (html strips to the collapsed form).  ``%% 17``
    cuts the message before the Subject header (an un-headed
    fragment — a truncated PLAIN body is undetectable by design, so
    the torn plant targets the only framing mail has); else ``%% 13``
    corrupts the base64 body (a ``*`` in the alphabet — strict
    validation flags) or the charset label — ok=false."""
    cls = doc_id % 4
    variant = ("7bit", "base64", "qp", "html", "alt")[
        (doc_id // 4) % 5
    ]
    accent = "" if cls == 0 else " café résumé"
    body = "mail body class %d line one%s\nsecond line %d" % (
        cls, accent, cls,
    )
    if variant in ("html", "alt"):
        # the html path collapses whitespace: use the collapsed twin
        pass
    subject = "Subject line %d" % cls
    sender = "sender%d@example.org" % cls
    if cls != 0 and variant == "7bit":
        variant = "qp"  # latin-1 7bit can't carry the utf-8 accents
    blob = eml_encode(subject, sender, body, variant)
    if doc_id % 17 == 0:
        return blob[: blob.index(b"Subject:")]
    if doc_id % 13 == 0:
        if b"base64" in blob:
            i = blob.rindex(b"\r\n\r\n") + 6
            return blob[:i] + b"*" + blob[i + 1:]
        mut = blob.replace(
            b'charset="utf-8"', b'charset="nocodec"'
        ).replace(b'charset="latin-1"', b'charset="nocodec"')
        assert mut != blob
        return mut
    return blob


def attach_eml_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the EML fixture blobs."""
    return attach_blobs(df, build_eml_blob, id_col)


# ---- ODF: OpenDocument text / spreadsheet / presentation ------------
# The OpenDocument office mass (LibreOffice/OpenOffice output) rides
# the same zip source as OOXML: a `mimetype` member names the kind,
# `content.xml` carries the document.  Same regex-over-XML approach
# as docx/xlsx/pptx (no nested same-name elements in the supported
# shapes; draw frames nesting <text:p> inside ODT paragraphs are an
# accepted extraction loss, documented).

_ODF_MIMES = {
    b"application/vnd.oasis.opendocument.text": "odt",
    b"application/vnd.oasis.opendocument.spreadsheet": "ods",
    b"application/vnd.oasis.opendocument.presentation": "odp",
}

#: expansion guard: a sheet whose repeated rows/cells expand past
#: this is a padding bomb (spreadsheets pad with
#: number-columns-repeated="16384" empties), not a document
_ODF_MAX_CELLS = 100_000


def _odf_flat_text(xml: str) -> str:
    """Inline ODF content → plain text: ``<text:tab/>`` → tab,
    ``<text:line-break/>`` → newline, ``<text:s text:c="N"/>`` → N
    spaces (default 1), every other tag transparent, entities
    decode."""
    import re as _re

    out = []
    pos = 0
    for m in _re.finditer(r"<[^>]*>", xml):
        seg = xml[pos : m.start()]
        if seg:
            out.append(_docx_unescape(seg))
        tag = m.group(0)
        if _re.match(r"<text:tab(?:[ />])", tag):
            out.append("\t")
        elif _re.match(r"<text:line-break(?:[ />])", tag):
            out.append("\n")
        elif _re.match(r"<text:s(?:[ />])", tag):
            cm = _re.search(r'text:c="(\d+)"', tag)
            out.append(" " * (int(cm.group(1)) if cm else 1))
        pos = m.end()
    tail = xml[pos:]
    if tail:
        out.append(_docx_unescape(tail))
    return "".join(out)


def _odf_paragraphs(xml: str) -> list:
    """``<text:p>``/``<text:h>`` elements in document order → list
    of plain-text lines (self-closing empties included)."""
    import re as _re

    out = []
    for m in _re.finditer(
        r"<text:(?:p|h)(?:[ ][^>]*)?/>"
        r"|<text:(?:p|h)(?:[ ][^>]*)?>(.*?)</text:(?:p|h)>",
        xml,
        _re.S,
    ):
        body = m.group(1)
        out.append("" if body is None else _odf_flat_text(body))
    return out


def _odf_repeat(tag_attrs: str, name: str) -> int:
    import re as _re

    m = _re.search(r'table:number-%s-repeated="(\d+)"' % name,
                   tag_attrs)
    return int(m.group(1)) if m else 1


def _ods_sheet_text(sheet_xml: str):
    """One ``<table:table>`` body → tab/newline grid text, or None
    past the expansion guard.  Repeats honored; trailing empty cells
    per row and trailing empty rows per sheet TRIMMED (the padding
    convention — spreadsheet writers pad to the grid edge)."""
    import re as _re

    rows = []
    total = 0
    for rm in _re.finditer(
        r"<table:table-row((?:[ ][^>]*)?)/>"
        r"|<table:table-row((?:[ ][^>]*)?)>(.*?)</table:table-row>",
        sheet_xml,
        _re.S,
    ):
        attrs = rm.group(1) if rm.group(1) is not None else rm.group(2)
        body = rm.group(3)
        rrep = _odf_repeat(attrs or "", "rows")
        cells = []
        if body:
            for cm in _re.finditer(
                r"<table:(?:covered-)?table-cell((?:[ ][^>]*)?)/>"
                r"|<table:(?:covered-)?table-cell((?:[ ][^>]*)?)>"
                r"(.*?)</table:(?:covered-)?table-cell>",
                body,
                _re.S,
            ):
                cattrs = (
                    cm.group(1) if cm.group(1) is not None
                    else cm.group(2)
                )
                cbody = cm.group(3)
                crep = _odf_repeat(cattrs or "", "columns")
                txt = (
                    "\n".join(_odf_paragraphs(cbody))
                    if cbody else ""
                )
                cells.extend([txt] * crep)
                total += crep
                if total > _ODF_MAX_CELLS:
                    return None
        while cells and cells[-1] == "":
            cells.pop()
        line = "\t".join(cells)
        rows.extend([line] * rrep)
        total += rrep
        if total > _ODF_MAX_CELLS:
            return None
    while rows and rows[-1] == "":
        rows.pop()
    return "\n".join(rows)


def odf_extract(b: bytes):
    """(kind, n_units, text) from an OpenDocument payload, or None
    when torn — kind from the ``mimetype`` member ('odt'/'ods'/
    'odp'), units = paragraphs / sheets / pages.  Requires
    ``mimetype`` (a known ODF type), ``META-INF/manifest.xml``
    listing content.xml, and a CRC-clean utf-8 ``content.xml``;
    ODT needs an ``<office:text>`` body, ODS/ODP at least one
    table/page.  Repeated-row/cell expansion past the padding guard
    refuses (a padded grid edge is trimmed, a bomb is not a
    document)."""
    import re as _re

    mime = manifest = content = None
    for _idx, name, _size, data, ok in iter_zip_members_for_office(b):
        if name is None:
            return None
        if name == "mimetype":
            if not ok:
                return None
            mime = bytes(data)
        elif name == "META-INF/manifest.xml":
            if not ok:
                return None
            manifest = bytes(data)
        elif name == "content.xml":
            if not ok:
                return None
            content = bytes(data)
    if mime is None or manifest is None or content is None:
        return None
    kind = _ODF_MIMES.get(mime.strip())
    if kind is None or b"content.xml" not in manifest:
        return None
    try:
        xml = content.decode("utf-8")
    except UnicodeDecodeError:
        return None
    if kind == "odt":
        bm = _re.search(r"<office:text(?:[ ][^>]*)?>(.*)</office:text>",
                        xml, _re.S)
        if bm is None:
            return None
        paras = _odf_paragraphs(bm.group(1))
        return kind, len(paras), "\n".join(paras)
    if kind == "ods":
        sheets = []
        for sm in _re.finditer(
            r"<table:table(?:[ ][^>]*)?>(.*?)</table:table>", xml,
            _re.S,
        ):
            st = _ods_sheet_text(sm.group(1))
            if st is None:
                return None
            sheets.append(st)
        if not sheets:
            return None
        return kind, len(sheets), "\n".join(sheets)
    pages = []
    for pm in _re.finditer(
        r"<draw:page(?:[ ][^>]*)?>(.*?)</draw:page>", xml, _re.S
    ):
        pages.append("\n".join(_odf_paragraphs(pm.group(1))))
    if not pages:
        return None
    return kind, len(pages), "\n".join(pages)


def odf_text(
    df: DataFrame, content_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """(id, kind, n_units, n_chars, text, ok) per ODF payload."""

    def ex(b):
        got = odf_extract(b)
        if got is None:
            return None
        k, nu, t = got
        return k, nu, len(t), t

    return _office_text_face(
        df, ex,
        "id long, kind string, n_units int, n_chars int, "
        "text string, ok boolean",
        content_col, id_col,
    )


def _odf_esc(s: str) -> str:
    s = (
        s.replace("&", "&amp;").replace("<", "&lt;")
        .replace(">", "&gt;")
    )
    s = s.replace("\t", "<text:tab/>").replace("\n", "<text:line-break/>")
    import re as _re

    return _re.sub(
        r"  +", lambda m: '<text:s text:c="%d"/>' % len(m.group(0)), s
    )


def odf_encode(kind: str, payload) -> bytes:
    """Minimal ODF writer — the fixture twin of ``odf_extract``.
    ``payload``: odt → list of paragraph strings; ods → list of
    sheets, each a list of rows, each a list of cell strings; odp →
    list of pages, each a list of paragraph strings.  Tabs /
    newlines / multi-space runs in text write through their ODF
    spellings (``<text:tab/>``, ``<text:line-break/>``,
    ``<text:s text:c="N"/>``) — extraction is the identity."""
    from ..sources.zip import zip_encode

    mime = {
        "odt": b"application/vnd.oasis.opendocument.text",
        "ods": b"application/vnd.oasis.opendocument.spreadsheet",
        "odp": b"application/vnd.oasis.opendocument.presentation",
    }[kind]
    if kind == "odt":
        body = "<office:text>%s</office:text>" % "".join(
            "<text:p>%s</text:p>" % _odf_esc(p) for p in payload
        )
    elif kind == "ods":
        tabs = []
        for si, rows in enumerate(payload):
            rx = "".join(
                '<table:table-row table:style-name="ro1">%s'
                "</table:table-row>"
                % "".join(
                    "<table:table-cell><text:p>%s</text:p>"
                    "</table:table-cell>" % _odf_esc(c)
                    for c in row
                )
                for row in rows
            )
            tabs.append(
                '<table:table table:name="Sheet%d">%s</table:table>'
                % (si + 1, rx)
            )
        body = "<office:spreadsheet>%s</office:spreadsheet>" % "".join(
            tabs
        )
    else:
        body = "<office:presentation>%s</office:presentation>" % "".join(
            '<draw:page draw:name="page%d">%s</draw:page>'
            % (pi + 1, "".join(
                "<text:p>%s</text:p>" % _odf_esc(p) for p in page
            ))
            for pi, page in enumerate(payload)
        )
    content = (
        '<?xml version="1.0" encoding="UTF-8"?>'
        "<office:document-content><office:body>%s</office:body>"
        "</office:document-content>" % body
    ).encode("utf-8")
    manifest = (
        '<?xml version="1.0" encoding="UTF-8"?><manifest:manifest>'
        '<manifest:file-entry manifest:full-path="/"/>'
        '<manifest:file-entry manifest:full-path="content.xml"/>'
        "</manifest:manifest>"
    ).encode()
    return zip_encode([
        ("mimetype", mime),
        ("META-INF/manifest.xml", manifest),
        ("content.xml", content),
    ])


@_builder_memo(lambda d: (d % 3, (d // 3) % 4, d % 13 == 0, d % 17 == 0))
def build_odf_blob(doc_id: int) -> bytes:
    """ODF fixture: kind ``doc_id %% 3`` (odt/ods/odp), class
    ``(doc_id // 3) %% 4`` scales the unit count; text carries
    entities, a tab and a double-space (ODF spellings round-trip).
    ``%% 17`` flips a byte inside content.xml (member CRC →
    ok=false); else ``%% 13`` renames the ``mimetype`` member
    (unknown kind → ok=false)."""
    kind = ("odt", "ods", "odp")[doc_id % 3]
    cls = (doc_id // 3) % 4
    if kind == "odt":
        paras = [
            "odt class %d para %d with café & <t>" % (cls, k)
            for k in range(2 + cls)
        ]
        paras[0] += "\ttab  two spaces"
        blob = odf_encode("odt", paras)
    elif kind == "ods":
        sheets = [
            [
                [
                    "w%d" % ((r * 7 + s) % 5),
                    str(r * 13 + s),
                    "c&<%d>" % r,
                ]
                for r in range(2 + cls)
            ]
            for s in range(1 + cls % 2)
        ]
        blob = odf_encode("ods", sheets)
    else:
        pages = [
            ["odp page %d line %d" % (p, k) for k in range(2)]
            for p in range(2 + cls % 3)
        ]
        blob = odf_encode("odp", pages)
    if doc_id % 17 == 0:
        i = blob.index(b"<office:body>") + 4
        return blob[:i] + bytes([blob[i] ^ 0x55]) + blob[i + 1:]
    if doc_id % 13 == 0:
        return blob.replace(b"mimetype", b"mimetypo", 2)
    return blob


def attach_odf_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the ODF fixture blobs."""
    return attach_blobs(df, build_odf_blob, id_col)


# ---- mbox: the mailbox container over the EML extractor -------------


def mbox_encode(messages: list) -> bytes:
    """mboxrd writer — the fixture twin of ``mbox_extract``: each
    message gets a ``From `` envelope line; body lines matching
    ``^>*From `` are quoted with one more ``>`` (mboxrd), CRLF
    normalizes to LF; messages separate with a blank line."""
    import re as _re

    out = []
    for k, m in enumerate(messages):
        out.append(
            b"From fixture@example.org Thu Jan  1 00:00:0%d 1970\n"
            % (k % 10)
        )
        body = m.replace(b"\r\n", b"\n")
        lines = body.split(b"\n")
        out.append(b"\n".join(
            b">" + ln if _re.match(rb">*From ", ln) else ln
            for ln in lines
        ))
        if not lines or lines[-1] != b"":
            out.append(b"\n")
        out.append(b"\n")
    return b"".join(out)


def mbox_extract(b: bytes):
    """(n_messages, text) from an mboxrd payload, or None when torn
    — splits on ``^From `` envelope lines (mboxrd guarantees quoted
    bodies never collide), strips one ``>`` from ``^>+From `` body
    lines, parses each message through ``eml_extract``.  text =
    ``[subject] body`` per message joined with blank lines.  A
    single torn message flags the whole mailbox (refuse over a
    silently shorter corpus)."""
    import re as _re

    if not b.startswith(b"From "):
        return None
    msgs = []
    cur = None
    for ln in b.split(b"\n"):
        if ln.startswith(b"From "):
            if cur is not None:
                msgs.append(cur)
            cur = []
        else:
            if _re.match(rb">+From ", ln):
                ln = ln[1:]
            cur.append(ln)
    msgs.append(cur)
    texts = []
    for m in msgs:
        while m and m[-1] == b"":
            m.pop()
        got = eml_extract(b"\n".join(m))
        if got is None:
            return None
        s, _f, _np, t = got
        texts.append("[%s] %s" % (s, t))
    return len(texts), "\n\n".join(texts)


def mbox_text(
    df: DataFrame, content_col: str = "content", id_col: str = "id"
) -> DataFrame:
    """(id, n_messages, n_chars, text, ok) per mbox payload."""

    def ex(b):
        got = mbox_extract(b)
        if got is None:
            return None
        nm, t = got
        return nm, len(t), t

    return _office_text_face(
        df, ex,
        "id long, n_messages int, n_chars int, text string, "
        "ok boolean",
        content_col, id_col,
    )


@_builder_memo(lambda d: (d % 4, d % 3, d % 13 == 0, d % 17 == 0))
def build_mbox_blob(doc_id: int) -> bytes:
    """mbox fixture: ``1 + doc_id %% 3`` messages of class ``doc_id
    %% 4``; message ``k`` cycles packaging (7bit, base64, qp) and
    its body STARTS with a ``From `` line (the mboxrd quoting
    round-trip is load-bearing, not decorative).  ``%% 17`` cuts
    before the first Subject header (headerless first message →
    ok=false); else ``%% 13`` corrupts the first charset label —
    ok=false."""
    cls = doc_id % 4
    n_msgs = 1 + doc_id % 3
    msgs = []
    for k in range(n_msgs):
        body = (
            "From the top line %d\nbody class %d msg %d café"
            % (k, cls, k)
        )
        variant = ("7bit", "base64", "qp")[(k + cls) % 3]
        msgs.append(eml_encode(
            "mbox subj %d-%d" % (cls, k),
            "m%d@example.org" % cls, body, variant,
        ))
    blob = mbox_encode(msgs)
    if doc_id % 17 == 0:
        return blob[: blob.index(b"Subject:")]
    if doc_id % 13 == 0:
        mut = blob.replace(
            b'charset="utf-8"', b'charset="nocodec"', 1
        )
        if mut == blob:
            mut = blob.replace(
                b'charset="latin-1"', b'charset="nocodec"', 1
            )
        assert mut != blob
        return mut
    return blob


def attach_mbox_blob(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(id, content) with the mbox fixture blobs."""
    return attach_blobs(df, build_mbox_blob, id_col)
