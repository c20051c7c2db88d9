"""Registry slice 4/6 — see registry_parts/__init__.py."""
from __future__ import annotations

from .part3 import *  # noqa: F401,F403 — append-only chain
from .part3 import (  # noqa: F401 — underscore chain
    _BOR_LOWER,
    _BOR_SQL,
    _BPE_SF001_MERGES,
    _DWCA_EVENT_FIXTURE,
    _DWCA_FIXTURE,
    _EMB_PAIRS_SQL,
    _EPOCH_BUDGET,
    _EVENT_TYPES,
    _GROUP_BUDGETS,
    _JSONL_FIXTURE,
    _MIXTURE,
    _MULTISCRIPT_TEXTS,
    _MULTISCRIPT_TEXT_SQL,
    _OCC_VIEW_COLUMNS,
    _OCC_VIEW_SQL,
    _ORDERS_PROFILE_COLS,
    _SPLITS,
    _TEMP_BUDGET,
    _TGT_BUDGET,
    _URL_FIXTURE_SQL,
    _URL_NORM_SQL,
    _bpe_learned_oracle_sql,
    _dec,
    _full_metrics_oracle_sql,
    _hash_split_oracle_sql,
    _merged_profile_oracle_sql,
    _mixture_oracle_sql,
    _multiscript_text_col,
    _occurrence_checks,
    _pii_oracle_sql,
    _quality_drift_oracle_sql,
    _quality_histogram_oracle_sql,
    _quality_model_oracle_sql,
    _synthetic_url_col,
    _table_profile_oracle_sql,
    _token_budget_by_group_oracle_sql,
    _token_budget_oracle_sql,
    _top_fraction_oracle_sql,
    _web,
)


# same md5-prefix bucket hash as operators/sketch.py; floor(log2 c) =
# binary-string length − 1 — both engine-portable
ORACLES["dsir_scores_lang"] = r"""
    WITH toks AS (
      SELECT doc_id, coalesce(lang = 'en', FALSE) AS is_t,
             unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
      FROM documents),
    b AS (
      SELECT doc_id, is_t,
             CAST(CAST(('0x' || substr(md5(term), 1, 8)) AS UBIGINT)
                  % 256 AS BIGINT) AS bucket
      FROM toks),
    c AS (
      SELECT bucket,
             CAST(count(*) FILTER (is_t) AS BIGINT) AS t,
             CAST(count(*) FILTER (NOT is_t) AS BIGINT) AS r
      FROM b GROUP BY 1),
    tot AS (SELECT CAST(sum(t) + 256 AS BIGINT) AS tn,
                   CAST(sum(r) + 256 AS BIGINT) AS rn FROM c),
    w AS (
      SELECT bucket,
             CAST(( (length(format('{:b}', t + 1)) - 1)
                  - (length(format('{:b}', tn)) - 1) )
                - ( (length(format('{:b}', r + 1)) - 1)
                  - (length(format('{:b}', rn)) - 1) ) AS BIGINT) AS w
      FROM c CROSS JOIN tot),
    per_doc AS (
      SELECT b.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             CAST(sum(w.w) AS BIGINT) AS dsir_bits
      FROM b JOIN w USING (bucket) GROUP BY 1)
    SELECT d.doc_id, d.lang,
           coalesce(p.n_tokens, 0) AS n_tokens,
           coalesce(p.dsir_bits, 0) AS dsir_bits,
           CASE WHEN p.n_tokens > 0
                THEN CAST(p.dsir_bits AS DOUBLE)
                     / CAST(p.n_tokens AS DOUBLE)
           END AS bits_per_token
    FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


def _docs_as_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic multi-line view of the documents corpus: the
    synthetic fixture text has no newlines, so both engines derive the
    same line structure by rewriting the token ``' a '`` as ``\\n`` —
    real repeated cross-document segments (the span-dup windows)
    become repeated LINES, which is exactly the boilerplate shape."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.replace(F.col("text"), F.lit(" a "), F.lit("\n")).alias("text"),
    )


def boilerplate_line_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate line detection (operators/text.py
    ``boilerplate_lines``) — the CCNet/RefinedWeb nav-bar/footer
    removal signal: trimmed lines ≥8 chars appearing in ≥2 distinct
    documents of the derived multi-line corpus."""
    return text.boilerplate_lines(
        _docs_as_lines(spark, sf_dir), min_doc_freq=2, min_chars=8
    )


QUERIES["boilerplate_line_stats"] = boilerplate_line_stats

ORACLES["boilerplate_line_stats"] = """
    WITH d AS (SELECT doc_id, replace(text, ' a ', chr(10)) AS text
               FROM documents),
    lines AS (SELECT doc_id,
                     trim(unnest(string_split(text, chr(10)))) AS line
              FROM d)
    SELECT line, CAST(count(DISTINCT doc_id) AS BIGINT) AS doc_freq
    FROM lines WHERE length(line) >= 8
    GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
"""


def boilerplate_scrub_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actionable half (operators/text.py
    ``scrub_boilerplate_lines``): the corpus with every occurrence of
    a boilerplate line removed — unlike span dedup, no occurrence
    survives.  The CLEAN TEXT crosses the value gate: the oracle
    rebuilds every scrubbed document string character-for-character."""
    return text.scrub_boilerplate_lines(
        _docs_as_lines(spark, sf_dir), min_doc_freq=2, min_chars=8
    )


QUERIES["boilerplate_scrub_corpus"] = boilerplate_scrub_corpus

# parallel unnests zip positionally in DuckDB — (line, ordinal) pairs
ORACLES["boilerplate_scrub_corpus"] = """
    WITH d AS (SELECT doc_id, replace(text, ' a ', chr(10)) AS text
               FROM documents),
    ls AS (SELECT doc_id, string_split(text, chr(10)) AS l
           FROM d WHERE text IS NOT NULL),
    lines AS (SELECT doc_id, unnest(l) AS ln,
                     unnest(range(1, length(l) + 1)) AS ord
              FROM ls),
    b AS (SELECT trim(ln) AS line FROM lines
          WHERE length(trim(ln)) >= 8
          GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
    k AS (SELECT l.doc_id, l.ord, l.ln, (b.line IS NOT NULL) AS rm
          FROM lines l LEFT JOIN b ON trim(l.ln) = b.line),
    p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
                 CAST(count(*) FILTER (rm) AS BIGINT) AS n_removed,
                 coalesce(string_agg(CASE WHEN NOT rm THEN ln END,
                                     chr(10) ORDER BY ord), '') AS text
          FROM k GROUP BY 1)
    SELECT doc.doc_id, p.text AS text,
           coalesce(p.n_lines, 0) AS n_lines,
           coalesce(p.n_removed, 0) AS n_removed
    FROM documents doc LEFT JOIN p USING (doc_id)
"""


def warc_roundtrip_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC source round-trip (sources/warc.py): serialize every
    document as a WARC/1.0 response record IN-PLAN (header strings +
    UTF-8 payload, Content-Length = octet length) and push the bytes
    through the real record parser (``decode_warc_records`` —
    Arrow-batched ``parse_warc_member``).  The oracle recomputes what
    a correct parse must return from the documents table directly, so
    header serialization, byte walking, Content-Length handling and
    payload extraction are all value-checked on every row; NULL text
    → NULL record → the parser's ok=false contract."""
    from ..sources import warc as warcmod

    docs = load_table(spark, sf_dir, "documents")
    rec = F.concat(
        F.lit(
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: http://corpus.example/doc/"
        ),
        F.col("doc_id").cast("string"),
        F.lit(
            "\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
            "Content-Type: text/plain\r\nContent-Length: "
        ),
        F.octet_length("text").cast("string"),
        F.lit("\r\n\r\n"),
        F.col("text"),
        F.lit("\r\n\r\n"),
    ).cast("binary")
    parsed = warcmod.decode_warc_records(
        docs.select(F.col("doc_id").alias("id"), rec.alias("record"))
    )
    return parsed.select(
        F.col("id").alias("doc_id"),
        "warc_type",
        "target_uri",
        "content_type",
        "content_length",
        F.col("payload").cast("string").alias("payload_text"),
        "ok",
    )


QUERIES["warc_roundtrip_check"] = warc_roundtrip_check

ORACLES["warc_roundtrip_check"] = """
    SELECT doc_id,
           CASE WHEN text IS NOT NULL THEN 'response' END AS warc_type,
           CASE WHEN text IS NOT NULL
                THEN 'http://corpus.example/doc/' || CAST(doc_id AS VARCHAR)
           END AS target_uri,
           CASE WHEN text IS NOT NULL THEN 'text/plain' END
             AS content_type,
           CASE WHEN text IS NOT NULL
                THEN CAST(octet_length(encode(text)) AS BIGINT)
           END AS content_length,
           text AS payload_text,
           (text IS NOT NULL) AS ok
    FROM documents
"""


def warc_wet_extract_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WET extraction (operators/web.py ``wet_extract`` — the
    WARC→corpus text tier): wrap every document IN-PLAN as a full
    ``HTTP/1.1 200`` ``text/html`` response (script + style + comment
    boilerplate around the text), then split head/body and strip the
    markup with the Catalyst regex chain.  The oracle computes the
    EXPECTED clean text independently from the documents table —
    status-line parse, header lookup, script/style/comment removal,
    tag stripping, entity decode and whitespace collapse are all
    value-checked on every row; NULL text → NULL payload → all-NULL
    extraction."""
    from ..operators import web

    docs = load_table(spark, sf_dir, "documents")
    payload = F.concat(
        F.lit(
            "HTTP/1.1 200 OK\r\n"
            "Content-Type: text/html; charset=utf-8\r\n"
            "Server: corpus\r\n\r\n"
            "<html><head><title>d</title>"
            '<script type="text/javascript">var x = 1 < 2;</script>'
            "<style>p { color: red; }</style></head><body><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1>\r\n<p>"),
        F.col("text"),
        F.lit(" &amp; more</p><!-- footer --></body></html>"),
    )
    return web.wet_extract(
        docs.select("doc_id", payload.alias("payload_text"))
    )


QUERIES["warc_wet_extract_check"] = warc_wet_extract_check

ORACLES["warc_wet_extract_check"] = r"""
    SELECT doc_id,
           CASE WHEN text IS NOT NULL THEN 200 END AS status,
           CASE WHEN text IS NOT NULL
                THEN 'text/html; charset=utf-8' END AS content_type,
           CASE WHEN text IS NOT NULL THEN
             -- 'd' is the <title> text: title content IS text (what
             -- Common Crawl WET ships too), only markup is stripped
             trim(regexp_replace(
               'd Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text
                 || ' & more',
               '\s+', ' ', 'g'))
           END AS text
    FROM documents
"""


def domain_cap_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain contribution cap (operators/web.py
    ``cap_per_domain`` — the Gopher/FineWeb de-bias move): keep at
    most 2 documents per registrable domain of the synthetic URL
    fixture, selected in the deterministic md5(doc_id) order.  The
    operator runs the two-phase top-k (sub-bucketed windows so a
    mega-domain never becomes one hot partition); the oracle replays
    the NAIVE single-window semantics, pinning phase-1/phase-2
    equivalence on real data."""
    from ..operators import web

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    wurl = docs.withColumn("url", _synthetic_url_col())
    return web.cap_per_domain(wurl, k=2).select(
        "doc_id", "domain", "domain_rank"
    )


QUERIES["domain_cap_keepers"] = domain_cap_keepers

ORACLES["domain_cap_keepers"] = f"""
    WITH b AS (
      SELECT doc_id, {_URL_FIXTURE_SQL} AS url FROM documents),
    {_URL_NORM_SQL}
    SELECT doc_id, domain, domain_rank FROM (
      SELECT doc_id, domain,
             row_number() OVER (
               PARTITION BY domain
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             ) AS domain_rank
      FROM dmn)
    WHERE domain_rank <= 2
"""


def web_corpus_pipeline_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED crawl-curation path, end-to-end: serialize each
    document as a WARC response wrapping an HTTP/HTML payload →
    ``decode_warc_records`` (real byte parser) → ``wet_extract``
    (HTTP split + HTML strip) → URL-keyed dedup on the synthetic
    messy-URL fixture → per-domain cap (k=3, two-phase) → per-domain
    doc/token stats.  Every stage interaction is value-checked: the
    oracle independently recomputes WET text, replays normalization /
    keeper / naive-window cap semantics, and whitespace token counts.
    The 100 TB shape: file-parallel parse, map-side extraction, one
    shuffle per dedup/cap/agg stage."""
    from ..operators import web
    from ..operators.text import token_count
    from ..sources import warc as warcmod

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # r20 opt (guide §2.5/§6): the jusText html/regex projection is
    # pure map-side work before the first window exchange — an
    # under-split local scan serializes it on one core.  Adaptive
    # spread (no-op on real corpus scans); value-neutral (every
    # downstream stage keys on doc_id / windows).
    from ..operators.text import spread_small_scan

    docs = spread_small_scan(docs, "doc_id")
    http = F.concat(
        F.lit(
            "HTTP/1.1 200 OK\r\n"
            "Content-Type: text/html; charset=utf-8\r\n\r\n"
            "<html><head><title>d</title>"
            '<script type="text/javascript">var x = 1 < 2;</script>'
            "<style>p { color: red; }</style></head><body><h1>Doc "
        ),
        F.col("doc_id").cast("string"),
        F.lit("</h1>\r\n<p>"),
        F.col("text"),
        F.lit(" &amp; more</p><!-- footer --></body></html>"),
    )
    rec = F.concat(
        F.lit(
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: http://corpus.example/doc/"
        ),
        F.col("doc_id").cast("string"),
        F.lit(
            "\r\nContent-Type: application/http\r\nContent-Length: "
        ),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    ).cast("binary")
    parsed = warcmod.decode_warc_records(
        docs.select(F.col("doc_id").alias("id"), rec.alias("record"))
    ).filter("ok")
    wet = web.wet_extract(
        parsed.select(
            F.col("id").alias("doc_id"),
            F.col("payload").cast("string").alias("payload_text"),
        )
    ).filter(F.col("text").isNotNull())
    wurl = wet.withColumn("url", _synthetic_url_col())
    kept = web.url_dedup_keepers(wurl)
    capped = web.cap_per_domain(kept, k=3)
    return capped.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(F.col("text"))).cast("long").alias("n_tokens"),
    )


QUERIES["web_corpus_pipeline_check"] = web_corpus_pipeline_check

ORACLES["web_corpus_pipeline_check"] = f"""
    WITH b AS (
      SELECT doc_id, {_URL_FIXTURE_SQL} AS url,
             trim(regexp_replace(
               'd Doc ' || CAST(doc_id AS VARCHAR) || ' ' || text
                 || ' & more',
               '\\s+', ' ', 'g')) AS wet_text
      FROM documents WHERE text IS NOT NULL),
    {_URL_NORM_SQL},
    keep AS (
      SELECT doc_id, domain, wet_text FROM (
        SELECT doc_id, domain, url_norm, wet_text,
               row_number() OVER (
                 PARTITION BY url_norm ORDER BY doc_id) AS rn
        FROM dmn)
      WHERE url_norm IS NULL OR rn = 1),
    capped AS (
      SELECT doc_id, domain, wet_text,
             row_number() OVER (
               PARTITION BY domain
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
      FROM keep)
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN trim(wet_text) = '' THEN 0
                    ELSE len(string_split_regex(trim(wet_text),
                                                '\\s+')) END)
                AS BIGINT) AS n_tokens
    FROM capped WHERE r <= 3
    GROUP BY domain
"""


def minhash_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY DEDUP end-to-end — the canonical LLM-corpus operation:
    portable MinHash-LSH verified pairs (same stages as
    ``minhash_lsh_check``) → connected components
    (operators/graph.py — near-dup clusters) → keep ONE document per
    cluster (the min id) plus every unclustered document.  Output:
    kept ``(doc_id, cluster)`` rows, ``cluster`` NULL for documents
    with no near-duplicate.  The oracle replays the whole chain —
    shingles, signatures, banding, cap, Jaccard verify, then the
    transitive closure as a recursive CTE and the keeper rule."""
    from ..operators import graph

    docs = load_table(spark, sf_dir, "documents")
    # ONE definition of the pair pipeline (k/bands/cap/threshold live
    # in minhash_lsh_check, and this oracle derives from that one's)
    pairs = minhash_lsh_check(spark, sf_dir)
    comps = graph.connected_components(pairs, src="ida", dst="idb")
    return (
        docs.select("doc_id")
        .join(comps, docs["doc_id"] == comps["node"], "left")
        .filter(
            F.col("node").isNull()
            | (F.col("doc_id") == F.col("cluster"))
        )
        .select("doc_id", "cluster")
    )


QUERIES["minhash_dedup_keepers"] = minhash_dedup_keepers


def _minhash_keepers_oracle() -> str:
    # derived by marker-based surgery on the base oracle string; the
    # markers are load-bearing — fail at import with a pointed message
    # rather than emitting silently-wrong SQL if that oracle is
    # reformatted
    base = ORACLES["minhash_lsh_check"]
    if "SELECT ida, idb," not in base or "WITH words" not in base:
        raise ValueError(
            "minhash_lsh_check oracle was reformatted: update "
            "_minhash_keepers_oracle's markers with it"
        )
    i = base.rindex("SELECT ida, idb,")
    ctes = base[:i].rstrip().rstrip(",")
    final = base[i:].strip()
    ctes = ctes.replace("WITH words", "WITH RECURSIVE words", 1)
    return f"""
        {ctes},
        pairs AS ({final}),
        und AS (
          SELECT ida AS a, idb AS b FROM pairs
          UNION
          SELECT idb AS a, ida AS b FROM pairs),
        comp(node, label) AS (
          SELECT DISTINCT a, a FROM und
          UNION
          SELECT und.a, comp.label FROM und JOIN comp ON comp.node = und.b),
        clusters AS (
          SELECT node, min(label) AS cluster FROM comp GROUP BY node)
        SELECT d.doc_id, c.cluster
        FROM documents d LEFT JOIN clusters c ON c.node = d.doc_id
        WHERE c.node IS NULL OR d.doc_id = c.cluster
    """


ORACLES["minhash_dedup_keepers"] = _minhash_keepers_oracle()


def gopher_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level Gopher quality rules (operators/text.py
    ``gopher_quality_flags`` — Rae et al. 2021 table A1): word-count
    and mean-word-length bounds, symbol ratio, bullet/ellipsis line
    fractions, alphabetic-word fraction, stopword floor — per-document
    metrics, one violation flag per rule, and the overall pass bit,
    every one replayed bit-for-bit by the oracle."""
    # r20 opt (guide §2.5/§6): pure map-side regex projection before
    # any exchange — adaptive spread, same rationale as sentence_stats
    # (no-op on real multi-split scans).  Warm A/B 0.85 -> 0.5 s.
    return text.gopher_quality_flags(
        text.spread_small_scan(
            load_table(spark, sf_dir, "documents"), "doc_id"
        )
    )


QUERIES["gopher_quality_report"] = gopher_quality_report

ORACLES["gopher_quality_report"] = r"""
    WITH w AS (
      SELECT doc_id,
             coalesce(regexp_extract_all(text, '\S+'), []) AS words,
             CASE WHEN text IS NOT NULL
                  THEN string_split(text, chr(10)) END AS lines,
             trim(text) AS t
      FROM documents),
    m AS (
      SELECT doc_id,
             CAST(coalesce(len(words), 0) AS INT) AS n_words,
             CASE WHEN len(words) > 0 THEN
               CAST(list_sum(list_transform(words, x -> length(x)))
                    AS DOUBLE) / len(words) END AS mean_word_len,
             CASE WHEN len(words) > 0 THEN
               CAST(len(regexp_extract_all(t, '#|\.\.\.|…')) AS DOUBLE)
                 / len(words) END AS symbol_word_ratio,
             CASE WHEN len(lines) > 0 THEN
               CAST(len(list_filter(lines,
                 l -> regexp_matches(l, '^\s*[-*•‣▪]'))) AS DOUBLE)
                 / len(lines) END AS bullet_line_frac,
             CASE WHEN len(lines) > 0 THEN
               CAST(len(list_filter(lines,
                 l -> regexp_matches(l, '(\.\.\.|…)\s*\z')))
                    AS DOUBLE) / len(lines) END AS ellipsis_line_frac,
             CASE WHEN len(words) > 0 THEN
               CAST(len(list_filter(words,
                 x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE)
                 / len(words) END AS alpha_word_frac,
             CAST(coalesce(len(list_distinct(regexp_extract_all(
               lower(t), '\b(the|be|to|of|and|that|have|with)\b'))),
               0) AS BIGINT) AS stopword_hits
      FROM w)
    SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
           bullet_line_frac, ellipsis_line_frac, alpha_word_frac,
           stopword_hits,
           (n_words < 50 OR n_words > 100000) AS flag_word_count,
           coalesce(mean_word_len < 3.0 OR mean_word_len > 10.0,
                    FALSE) AS flag_mean_word_len,
           coalesce(symbol_word_ratio > 0.1, FALSE) AS flag_symbol_ratio,
           coalesce(bullet_line_frac > 0.9, FALSE) AS flag_bullet_lines,
           coalesce(ellipsis_line_frac > 0.3, FALSE)
             AS flag_ellipsis_lines,
           coalesce(alpha_word_frac < 0.8, FALSE) AS flag_alpha_words,
           (stopword_hits < 2) AS flag_stopwords,
           NOT ((n_words < 50 OR n_words > 100000)
             OR coalesce(mean_word_len < 3.0 OR mean_word_len > 10.0,
                         FALSE)
             OR coalesce(symbol_word_ratio > 0.1, FALSE)
             OR coalesce(bullet_line_frac > 0.9, FALSE)
             OR coalesce(ellipsis_line_frac > 0.3, FALSE)
             OR coalesce(alpha_word_frac < 0.8, FALSE)
             OR (stopword_hits < 2)) AS gopher_pass
    FROM m
"""


def c4_cleanup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-level cleaning (operators/text.py ``c4_line_cleanup``
    — Raffel et al. 2020 §2.2) over a deterministic line-structured
    derivation of the documents corpus (the ``' a '``→newline rewrite
    of the boilerplate fixture, each line closed with a period so the
    terminal-punctuation rule has real work: short segments fail the
    ≥5-word rule, documents whose every line fails are dropped).  The
    CLEANED TEXT and the per-document drop accounting cross the value
    gate."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("text").isNotNull(),
            F.concat(
                F.replace(
                    F.col("text"), F.lit(" a "), F.lit(".\n")
                ),
                F.lit("."),
            ),
        ).alias("text"),
    )
    # r20 opt (guide §2.5/§6): the line split + per-line regex runs
    # map-side before the reassembly — adaptive spread, same
    # rationale as sentence_stats.  Warm A/B ~0.85 -> ~0.46 s.
    return text.c4_line_cleanup(text.spread_small_scan(docs, "doc_id"))


QUERIES["c4_cleanup_corpus"] = c4_cleanup_corpus

ORACLES["c4_cleanup_corpus"] = r"""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN text IS NOT NULL
                  THEN replace(text, ' a ', '.' || chr(10)) || '.'
             END AS text
      FROM documents),
    w AS (
      SELECT doc_id, text,
             CASE WHEN text IS NOT NULL
                  THEN string_split(text, chr(10)) END AS lines
      FROM d),
    k AS (
      SELECT doc_id, text, lines,
             CASE WHEN lines IS NOT NULL THEN
               list_filter(lines, l ->
                 regexp_matches(l, '([.!?]["''”’]?|["”’])\s*\z')
                 AND len(regexp_extract_all(l, '\S+')) >= 5)
             END AS kept
      FROM w),
    m AS (
      SELECT doc_id, text, kept,
             CAST(coalesce(len(lines), 0) AS BIGINT) AS n_lines,
             CAST(coalesce(len(kept), 0) AS BIGINT) AS n_kept,
             CASE
               WHEN coalesce(contains(text, '{'), FALSE) THEN 'brace'
               WHEN coalesce(contains(lower(text), 'lorem ipsum'),
                             FALSE) THEN 'lorem_ipsum'
               WHEN coalesce(len(kept), 0) < 3 THEN 'too_few_lines'
             END AS drop_reason
      FROM k)
    SELECT doc_id,
           CASE WHEN drop_reason IS NULL
                THEN array_to_string(kept, chr(10)) END AS text,
           n_lines, n_kept,
           (drop_reason IS NOT NULL) AS dropped, drop_reason
    FROM m
"""


def gopher_ngram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The n-gram repetition half of the Gopher rules
    (operators/text.py ``ngram_repetition_profile``): per document,
    the character fraction of the top {2,3,4}-gram and of duplicated
    {5..10}-grams — every fraction replayed bit-for-bit (integer
    counts and lengths, one final double division per row)."""
    return text.ngram_repetition_profile(
        load_table(spark, sf_dir, "documents")
    )


QUERIES["gopher_ngram_repetition"] = gopher_ngram_repetition


def _ngram_rep_oracle() -> str:
    branches = []
    for n in (2, 3, 4, 5, 6, 7, 8, 9, 10):
        kinds = (["top"] if n in (2, 3, 4) else []) + (
            ["dup"] if n >= 5 else []
        )
        for kind in kinds:
            val = (
                "CAST(p.top.c AS DOUBLE) * length(p.top.g)"
                if kind == "top"
                else "CAST(p.dupchars AS DOUBLE)"
            )
            branches.append(f"""(
        WITH w AS (
          SELECT doc_id,
                 coalesce(regexp_extract_all(text, '\\S+'), []) AS w,
                 CAST(coalesce(length(text), 0) AS BIGINT) AS nc
          FROM documents),
        g AS (
          SELECT doc_id,
                 unnest(list_transform(range(1, len(w) - {n} + 2),
                   i -> array_to_string(w[i:i + {n} - 1], ' '))) AS g
          FROM w WHERE len(w) >= {n}),
        c AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
        p AS (
          SELECT doc_id,
                 max({{'c': c, 'g': g}}) AS top,
                 sum(CASE WHEN c >= 2 THEN c * length(g)
                     ELSE 0 END) AS dupchars
          FROM c GROUP BY 1)
        SELECT w.doc_id, {n} AS n, '{kind}' AS kind,
               coalesce({val} / greatest(w.nc, 1), 0.0) AS frac
        FROM w LEFT JOIN p USING (doc_id)
      )""")
    return "\n      UNION ALL\n      ".join(branches)


ORACLES["gopher_ngram_repetition"] = _ngram_rep_oracle()


# --------------------------------------------------------------------------
# round 11: real PNG pixel decode → perceptual image hashes → dedup
# --------------------------------------------------------------------------


def image_pixel_hash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel-level image decode (operators/multimodal.py
    ``png_decode_pixels``: stdlib zlib + all five PNG scanline filters,
    gray/RGB/palette/RGBA) feeding integer-grid aHash/dHash
    (``image_ahash``/``image_dhash``).  Fixtures are full valid PNGs
    whose pixels depend only on doc_id % 24, with two planted failure
    modes: doc_id % 17 = 0 truncates the PNG (corrupt → ok=false) and
    doc_id % 13 = 0 plants a JPEG (the documented codec-stub →
    ok=false).  The oracle pins the 24 expected (dims, ahash, dhash)
    tuples — computed driver-side from the same fixture definitions;
    decode CORRECTNESS itself is pinned by the pytest round-trips
    (encoder cycles every filter type) and hand-computed hash cases."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.image_pixel_hashes(
        multimodal.attach_png_blob(docs), "content", "id"
    )


def _png_pinned_oracle() -> str:
    rows = {}
    for cls in range(24):
        px, pal = multimodal._png_fixture_pixels(cls)
        dec = multimodal.png_decode_pixels(multimodal.png_encode(px, pal))
        h, w, ch = dec.shape
        rows[cls] = (
            w, h, ch,
            format(multimodal.image_ahash(dec), "016x"),
            format(multimodal.image_dhash(dec), "016x"),
        )
    chan = " ".join(
        "WHEN doc_id %% 24 = %d THEN %d" % (c, v[2]) for c, v in rows.items()
    )
    ah = " ".join(
        "WHEN doc_id %% 24 = %d THEN '%s'" % (c, v[3]) for c, v in rows.items()
    )
    dh = " ".join(
        "WHEN doc_id %% 24 = %d THEN '%s'" % (c, v[4]) for c, v in rows.items()
    )
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS id,
          CAST(CASE WHEN bad THEN 0 ELSE 16 END AS INTEGER) AS width,
          CAST(CASE WHEN bad THEN 0 ELSE 16 END AS INTEGER) AS height,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {chan} END)
               END AS INTEGER) AS channels,
          CASE WHEN bad THEN NULL ELSE (CASE {ah} END) END AS ahash,
          CASE WHEN bad THEN NULL ELSE (CASE {dh} END) END AS dhash,
          NOT bad AS ok
        FROM (SELECT doc_id,
                     doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
              FROM documents)
    """


def image_phash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE dedup end-to-end (operators/multimodal.py
    ``image_phash_dedup``): real pixel decode → dHash → exact-hash
    collapse → banded LSH over distinct hashes → Hamming ≤ 6 verify →
    connected components; summarized as (cluster, n_members).  The
    fixture classes are built so each base pattern and its
    bottom-rows-perturbed variant sit ≤ 5 bits apart CONFINED TO ONE
    BAND (recall guaranteed) while distinct patterns sit ≥ 15 bits
    apart (no false merges) — so the expected clustering is exactly
    the base-pattern classes, which the oracle states independently
    from doc_id arithmetic."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = multimodal.image_phash_dedup(
        multimodal.attach_png_blob(docs), "content", "id",
        # recall-escalation probe ON: the scale path should be the
        # benched path; the oracle is identical with it off (fixture
        # cross-class distances ≫ threshold, so extra candidates all
        # fail the Hamming verify)
        probe_ahash=True,
    )
    return clusters.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members")
    )


QUERIES["image_pixel_hash_check"] = image_pixel_hash_check
QUERIES["image_phash_dedup_clusters"] = image_phash_dedup_clusters

ORACLES["image_pixel_hash_check"] = _png_pinned_oracle()

ORACLES["image_phash_dedup_clusters"] = """
    WITH v AS (
      SELECT doc_id, doc_id % 12 AS cls FROM documents
      WHERE doc_id % 17 <> 0 AND doc_id % 13 <> 0)
    SELECT min(doc_id) AS cluster, CAST(count(*) AS BIGINT) AS n_members
    FROM v GROUP BY cls
"""


# --------------------------------------------------------------------------
# round 11: jusText-style main-content extraction tier
# --------------------------------------------------------------------------

#: stopword-rich tail planted on 2/3 of the fixture docs so every
#: jusText class (good / neargood / bad / short) is represented on
#: driver data — the raw synthetic document text is stopword-poor
#: word salad that classifies almost uniformly bad
_JUSTEXT_TAIL = (
    " it was a good day and we were all of the opinion that this is as"
    " it should have been for you and for them"
)


def _justext_payload_col() -> F.Column:
    """HTTP/HTML fixture with four paragraph-generating blocks: a nav
    bar of three links (bad: link density), a short heading, the main
    paragraph (document text, tail-enriched by doc_id % 3), and a
    copyright footer (bad: stopword-poor).  The SQL replay is
    ``_JUSTEXT_FIXTURE_SQL``."""
    from ..operators.web import http_body  # noqa: F401 — twin anchor

    d = F.col("doc_id")
    m = (
        F.when(d % 3 == 0, F.col("text"))
        .when(d % 3 == 1, F.concat(F.col("text"), F.lit(_JUSTEXT_TAIL)))
        .otherwise(
            F.concat(F.substring(F.col("text"), 1, 100), F.lit(_JUSTEXT_TAIL))
        )
    )
    return F.concat(
        F.lit(
            "HTTP/1.1 200 OK\r\n"
            "Content-Type: text/html; charset=utf-8\r\n\r\n"
            '<html><body><div><a href="/">Home</a> <a href="/a">About</a>'
            ' <a href="/c">Contact</a></div><h1>Doc '
        ),
        d.cast("string"),
        F.lit("</h1><p>"),
        m,
        F.lit(
            "</p><div>Copyright 2026 corpus example site All rights"
            " reserved</div></body></html>"
        ),
    )


_JUSTEXT_FIXTURE_SQL = f"""
    jt0 AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN text
                  WHEN doc_id % 3 = 1 THEN text || '{_JUSTEXT_TAIL}'
                  ELSE substr(text, 1, 100) || '{_JUSTEXT_TAIL}'
             END AS m
      FROM documents WHERE text IS NOT NULL),
    jt1 AS (
      SELECT doc_id, trim(regexp_replace(m, '\\s+', ' ', 'g')) AS t2
      FROM jt0),
    jt2 AS (
      SELECT doc_id, t2, length(t2) AS nc,
             len(regexp_split_to_array(t2, '\\s+')) AS nw,
             len(regexp_extract_all(t2, '{{stop_re}}')) AS ns
      FROM jt1 WHERE t2 <> ''),
    jtc AS (
      SELECT *, CASE WHEN nc < 40 THEN 'short'
                     WHEN ns * 100 >= nw * 18 AND nc > 160 THEN 'good'
                     WHEN ns * 100 >= nw * 18 THEN 'neargood'
                     ELSE 'bad' END AS cf2
      FROM jt2)
"""


def wet_main_content_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """jusText-style paragraph classification (operators/web.py
    ``justext_paragraphs`` — the DOM-free main-content tier after
    ``wet_extract``): block-tag paragraph segmentation with in-text
    link marks, link-density / stopword-density / length features on
    integer cross-multiplied thresholds, and the definite-neighbor
    context pass.  The fixture plants a nav bar, a heading, the
    document text (tail-enriched so all four classes appear on driver
    data) and a copyright footer; the oracle restates every feature
    and class independently."""
    from ..operators import web

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # r20 opt (guide §2.5/§6): the jusText html/regex projection is
    # pure map-side work before the first window exchange — an
    # under-split local scan serializes it on one core.  Adaptive
    # spread (no-op on real corpus scans); value-neutral (every
    # downstream stage keys on doc_id / windows).
    from ..operators.text import spread_small_scan

    docs = spread_small_scan(docs, "doc_id")
    return web.justext_paragraphs(
        docs.select("doc_id", _justext_payload_col().alias("payload_text"))
    ).select(
        "doc_id", "para_pos", "para_text", "n_links", "n_chars",
        "n_words", "n_stop", "cf_class", "final_class",
    )


def wet_main_content_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document main-content rollup (operators/web.py
    ``wet_main_content``): good paragraphs reassembled in order,
    boilerplate-only documents kept with NULL main_text (the
    drop-accounting contract)."""
    from ..operators import web

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # r20 opt (guide §2.5/§6): the jusText html/regex projection is
    # pure map-side work before the first window exchange — an
    # under-split local scan serializes it on one core.  Adaptive
    # spread (no-op on real corpus scans); value-neutral (every
    # downstream stage keys on doc_id / windows).
    from ..operators.text import spread_small_scan

    docs = spread_small_scan(docs, "doc_id")
    return web.wet_main_content(
        docs.select("doc_id", _justext_payload_col().alias("payload_text"))
    )


def web_corpus_pipeline_v2_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed crawl path WITH the main-content tier: WARC
    serialize → ``decode_warc_records`` → ``wet_main_content``
    (jusText-style boilerplate removal replaces the flat HTML strip)
    → drop boilerplate-only pages → URL dedup → per-domain cap (k=3)
    → per-domain doc/token stats.  v1 (``web_corpus_pipeline_check``)
    keeps nav bars and footers in the text; this is the pipeline a
    training corpus actually wants."""
    from ..operators import web
    from ..operators.text import token_count
    from ..sources import warc as warcmod

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # r20 opt (guide §2.5/§6): the jusText html/regex projection is
    # pure map-side work before the first window exchange — an
    # under-split local scan serializes it on one core.  Adaptive
    # spread (no-op on real corpus scans); value-neutral (every
    # downstream stage keys on doc_id / windows).
    from ..operators.text import spread_small_scan

    docs = spread_small_scan(docs, "doc_id")
    http = _justext_payload_col()
    rec = F.concat(
        F.lit(
            "WARC/1.0\r\nWARC-Type: response\r\n"
            "WARC-Target-URI: http://corpus.example/doc/"
        ),
        F.col("doc_id").cast("string"),
        F.lit("\r\nContent-Type: application/http\r\nContent-Length: "),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    ).cast("binary")
    parsed = warcmod.decode_warc_records(
        docs.select(F.col("doc_id").alias("id"), rec.alias("record"))
    ).filter("ok")
    main = web.wet_main_content(
        parsed.select(
            F.col("id").alias("doc_id"),
            F.col("payload").cast("string").alias("payload_text"),
        )
    ).filter(F.col("main_text").isNotNull())
    wurl = main.withColumn("url", _synthetic_url_col())
    kept = web.url_dedup_keepers(wurl)
    capped = web.cap_per_domain(kept, k=3)
    return capped.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(F.col("main_text"))).cast("long").alias("n_tokens"),
    )


def crawl_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING crawl stack's per-slice body
    (streaming/ingest.py ``crawl_survivors`` — the exact function the
    ``foreachBatch`` sink runs), driven as two id-ordered slices with
    the second screened against the first's URL keys, then folded and
    finalized (``cap_per_domain`` k=3 + per-domain stats).  Because
    the slice split is an id prefix, the first-batch-wins cross-slice
    keeper IS the global min-id keeper, so the fold equals the batch
    v2 composition exactly — same oracle, one shared code path with
    the sink (the pytest stream≡batch pin is structural, and the
    driver's value hash now covers it too).  Here the synthetic messy
    URL rides in the WARC-Target-URI header instead of being attached
    after extraction."""
    from ..operators import web
    from ..operators.text import token_count
    from ..streaming.ingest import crawl_survivors

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    http = _justext_payload_col()
    rec = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        _synthetic_url_col(),
        F.lit("\r\nContent-Type: application/http\r\nContent-Length: "),
        F.octet_length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
        F.lit("\r\n\r\n"),
    ).cast("binary")
    recs = docs.select(F.col("doc_id").alias("id"), rec.alias("record"))
    # id-prefix split: 250 covers the whole corpus at sf0.001 (an
    # empty second slice is a valid batch) and halves it at sf0.01
    empty = spark.createDataFrame([], "fingerprint string")
    s1 = crawl_survivors(
        recs.filter(F.col("id") < 250), empty
    ).localCheckpoint(eager=True)
    seen = s1.filter(F.col("url_key").isNotNull()).select(
        F.col("url_key").alias("fingerprint")
    )
    s2 = crawl_survivors(recs.filter(F.col("id") >= 250), seen)
    capped = web.cap_per_domain(s1.unionByName(s2), k=3)
    return capped.groupBy("domain").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(token_count(F.col("main_text"))).cast("long").alias("n_tokens"),
    )


QUERIES["wet_main_content_check"] = wet_main_content_check
QUERIES["wet_main_content_docs"] = wet_main_content_docs
QUERIES["web_corpus_pipeline_v2_check"] = web_corpus_pipeline_v2_check
QUERIES["crawl_ingest_check"] = crawl_ingest_check


def _justext_oracles() -> None:
    from ..operators.web import JUSTEXT_STOPWORDS_RE

    fixture = _JUSTEXT_FIXTURE_SQL.format(stop_re=JUSTEXT_STOPWORDS_RE)
    ORACLES["wet_main_content_check"] = f"""
        WITH {fixture}
        SELECT doc_id, CAST(0 AS INTEGER) AS para_pos,
               'Home About Contact' AS para_text,
               CAST(3 AS INTEGER) AS n_links,
               CAST(18 AS INTEGER) AS n_chars,
               CAST(3 AS INTEGER) AS n_words,
               CAST(0 AS INTEGER) AS n_stop,
               'bad' AS cf_class, 'bad' AS final_class
        FROM jt0
        UNION ALL
        SELECT doc_id, CAST(1 AS INTEGER),
               'Doc ' || CAST(doc_id AS VARCHAR), CAST(0 AS INTEGER),
               CAST(4 + length(CAST(doc_id AS VARCHAR)) AS INTEGER),
               CAST(2 AS INTEGER), CAST(0 AS INTEGER), 'short', 'bad'
        FROM jt0
        UNION ALL
        SELECT doc_id, CAST(2 AS INTEGER), t2, CAST(0 AS INTEGER),
               CAST(nc AS INTEGER), CAST(nw AS INTEGER),
               CAST(ns AS INTEGER), cf2,
               CASE WHEN cf2 = 'good' THEN 'good' ELSE 'bad' END
        FROM jtc
        UNION ALL
        SELECT j.doc_id,
               CAST(CASE WHEN c.doc_id IS NULL THEN 2 ELSE 3 END
                    AS INTEGER),
               'Copyright 2026 corpus example site All rights reserved',
               CAST(0 AS INTEGER), CAST(54 AS INTEGER),
               CAST(8 AS INTEGER), CAST(0 AS INTEGER), 'bad', 'bad'
        FROM jt0 j LEFT JOIN jtc c USING (doc_id)
    """
    ORACLES["wet_main_content_docs"] = f"""
        WITH {fixture}
        SELECT j.doc_id,
               CASE WHEN c.cf2 = 'good' THEN c.t2 END AS main_text,
               CAST(CASE WHEN c.doc_id IS NULL THEN 3 ELSE 4 END
                    AS BIGINT) AS n_paras_total,
               CAST(CASE WHEN c.cf2 = 'good' THEN 1 ELSE 0 END
                    AS BIGINT) AS n_paras_good,
               CAST(CASE WHEN c.cf2 = 'good' THEN c.nc ELSE 0 END
                    AS INTEGER) AS n_chars_main
        FROM jt0 j LEFT JOIN jtc c USING (doc_id)
    """
    ORACLES["web_corpus_pipeline_v2_check"] = f"""
        WITH {fixture},
        b AS (
          SELECT j.doc_id, {_URL_FIXTURE_SQL} AS url, c.t2 AS main_text,
                 c.nw AS n_tokens
          FROM jtc c JOIN jt0 j USING (doc_id)
          WHERE c.cf2 = 'good'),
        {_URL_NORM_SQL},
        keep AS (
          SELECT doc_id, domain, n_tokens FROM (
            SELECT doc_id, domain, url_norm, n_tokens,
                   row_number() OVER (
                     PARTITION BY url_norm ORDER BY doc_id) AS rn
            FROM dmn)
          WHERE url_norm IS NULL OR rn = 1),
        capped AS (
          SELECT doc_id, domain, n_tokens,
                 row_number() OVER (
                   PARTITION BY domain
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r
          FROM keep)
        SELECT domain,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens
        FROM capped WHERE r <= 3
        GROUP BY domain
    """
    # the streamed two-slice fold equals the batch composition by the
    # id-prefix-split argument (crawl_ingest_check docstring), so the
    # SAME SQL is its oracle
    ORACLES["crawl_ingest_check"] = ORACLES["web_corpus_pipeline_v2_check"]


_justext_oracles()


def _wav_pinned_oracle() -> str:
    rows = {}
    for cls in range(8):
        rate, ch, arr = multimodal._wav_fixture_samples(cls)
        r2, c2, dec = multimodal.wav_decode_samples(
            multimodal.wav_encode(rate, arr)
        )
        n, peak, abs_sum, zc = multimodal.audio_pcm_metrics(dec)
        rows[cls] = (r2, c2, n, n * 1000 // r2, peak, abs_sum, zc)

    def case(i):
        return " ".join(
            "WHEN doc_id %% 8 = %d THEN %d" % (c, v[i])
            for c, v in rows.items()
        )

    return f"""
        SELECT CAST(doc_id AS BIGINT) AS id,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {case(0)} END)
               END AS INTEGER) AS sample_rate,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {case(1)} END)
               END AS INTEGER) AS n_channels,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {case(2)} END)
               END AS BIGINT) AS n_frames,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {case(3)} END)
               END AS BIGINT) AS duration_ms,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {case(4)} END)
               END AS INTEGER) AS peak,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {case(5)} END)
               END AS BIGINT) AS abs_sum,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {case(6)} END)
               END AS BIGINT) AS zero_crossings,
          NOT bad AS ok
        FROM (SELECT doc_id,
                     doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
              FROM documents)
    """


def audio_pcm_feature_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WAV PCM16 sample decode (operators/multimodal.py
    ``wav_decode_samples``: word-aligned RIFF chunk walk + LE int16
    frames) feeding all-integer audio features
    (``audio_pcm_metrics``: peak/abs-sum over all samples, channel-0
    zero crossings, floor-division duration).  Fixtures are full
    valid WAVs whose samples depend only on doc_id %% 8, with the two
    planted failure modes mirroring the image fixtures: %% 17
    truncates mid-fmt (malformed → ok=false), %% 13 plants an
    IEEE-float WAV (the documented non-PCM16 stub → ok=false).  The
    oracle pins the 8 expected feature tuples, computed driver-side
    from the same fixture definitions through the same decode +
    metric functions the executors run."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.audio_pcm_features(multimodal.attach_wav_blob(docs))


QUERIES["audio_pcm_feature_check"] = audio_pcm_feature_check
ORACLES["audio_pcm_feature_check"] = _wav_pinned_oracle()


def _audio_resample_oracle() -> str:
    """Pinned-constant oracle for the resample tier: per WAV fixture
    class the (src_rate, n_frames, md5 of the 16 kHz re-encoded WAV)
    computed driver-side through the same decode → resample → encode
    path — a one-position error in the interpolation grid or a wrong
    rounding mode breaks the hash.  %17/%13 plants pin ok=false."""
    import hashlib as _hl

    rows = {}
    for cls in range(8):
        rate, _ch, arr = multimodal._wav_fixture_samples(cls)
        out = multimodal.resample_pcm(arr, rate, 16000)
        rows[cls] = (
            rate,
            out.shape[0],
            _hl.md5(multimodal.wav_encode(16000, out)).hexdigest(),
        )
    rc = " ".join(
        "WHEN doc_id %% 8 = %d THEN %d" % (c, v[0])
        for c, v in rows.items()
    )
    nc = " ".join(
        "WHEN doc_id %% 8 = %d THEN %d" % (c, v[1])
        for c, v in rows.items()
    )
    mc = " ".join(
        "WHEN doc_id %% 8 = %d THEN '%s'" % (c, v[2])
        for c, v in rows.items()
    )
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {rc} END)
               END AS INTEGER) AS src_rate,
          CAST(CASE WHEN bad THEN 0 ELSE 16000 END AS INTEGER)
            AS dst_rate,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {nc} END)
               END AS BIGINT) AS n_frames,
          CASE WHEN bad THEN NULL ELSE (CASE {mc} END) END AS wav_md5,
          NOT bad AS ok
        FROM (SELECT doc_id,
                     doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
              FROM documents)
    """


def audio_resample_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV decode → linear resample to 16 kHz → PCM16 re-encode
    (operators/multimodal.py ``resample_audio`` over
    ``resample_pcm``): the rate-normalization step of an audio
    training pipeline as one map-side Arrow pass.  The check md5s the
    re-encoded bytes against per-class constants computed through the
    same kernel; the %%17 truncation and %%13 ADPCM-stub plants are
    ok=false rows.  Zero shuffles."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = multimodal.resample_audio(
        multimodal.attach_wav_blob(docs), 16000
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "src_rate", "dst_rate", "n_frames",
        F.md5(F.col("content")).alias("wav_md5"),
        "ok",
    )


QUERIES["audio_resample_check"] = audio_resample_check
ORACLES["audio_resample_check"] = _audio_resample_oracle()


def _tar_fixture_rows(cls: int, bad: bool):
    """Member rows (index, name, key, ext, size, md5_or_None, ok) the
    walker must produce for one fixture class, computed through
    ``iter_tar_members`` itself over the class's (possibly torn)
    blob."""
    import hashlib as _hl

    from ..sources import tar as tarmod

    did = next(
        d for d in range(200)
        if d % 6 == cls and (d % 17 == 0) == bad and (bad or d % 13)
    )
    out = []
    for idx, name, size, content, ok in tarmod.iter_tar_members(
        tarmod.build_tar_blob(did)
    ):
        key, ext = tarmod.wds_key_ext(name) if name else (None, None)
        out.append((
            idx, name, key, ext, size,
            _hl.md5(content).hexdigest() if content is not None else None,
            ok,
        ))
    return out


def _sql_lit(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    return "'%s'" % str(v).replace("'", "''")


def _tar_members_oracle() -> str:
    """Pinned row-table oracle for the tar/WebDataset member walk:
    for every (class, torn?) fixture shape the exact member rows —
    names, WebDataset key/ext splits, declared sizes, content md5s,
    and the flagged torn tail — computed driver-side through the same
    walker; joined to documents on (cls, bad).  The gzip variant
    (%13) is pinned IDENTICAL to the plain shape by construction
    (same plain bytes), which is the compression-transparency claim."""
    values = []
    for cls in range(6):
        for bad in (False, True):
            for row in _tar_fixture_rows(cls, bad):
                values.append(
                    "(%d, %s, %s)" % (
                        cls, _sql_lit(bad),
                        ", ".join(_sql_lit(v) for v in row),
                    )
                )
    rows_sql = ",\n          ".join(values)
    return f"""
        WITH consts(cls, bad, member_index, member_name, key, ext,
                    size, content_md5, ok) AS (
          VALUES {rows_sql}
        ),
        base AS (
          SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS cls,
                 doc_id % 17 = 0 AS bad
          FROM documents)
        SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
               CAST(c.member_index AS BIGINT) AS member_index,
               c.member_name, c.key, c.ext,
               CAST(c.size AS BIGINT) AS size,
               c.content_md5, c.ok
        FROM base b JOIN consts c ON c.cls = b.cls AND c.bad = b.bad
    """


def tar_members_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tar/WebDataset shard source (sources/tar.py
    ``decode_tar_records`` over ``iter_tar_members``): stdlib-tar
    member walk with gzip/bzip2/xz transparency, WebDataset
    first-dot key/ext splitting, the zero-block terminator check
    (a shard cut at a 512 boundary must flag, not silently drop its
    tail), and torn-member short-read flagging.  Fixture: 6 classes
    of multi-sample shards, %%13 ships gzip (identical rows — the
    transparency claim), %%17 tears the last member's data.
    Map-side, zero shuffles."""
    from ..sources import tar as tarmod

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dec = tarmod.decode_tar_records(
        tarmod.attach_tar_blob(docs), id_col="id"
    )
    return dec.select(
        F.col("id").alias("doc_id"),
        "member_index", "member_name", "key", "ext", "size",
        F.md5(F.col("content")).alias("content_md5"),
        "ok",
    )


QUERIES["tar_members_check"] = tar_members_check
ORACLES["tar_members_check"] = _tar_members_oracle()


def _webdataset_group_oracle() -> str:
    """Pinned row-table oracle for WebDataset sample regrouping:
    per (class, torn?) the (key, n_parts, exts, parts_sig) rows,
    computed by replaying the grouping in Python over the walker's
    good rows — the torn member's sample loses exactly that part."""
    values = []
    for cls in range(6):
        for bad in (False, True):
            groups: dict = {}
            for row in _tar_fixture_rows(cls, bad):
                idx, name, key, ext, size, md5h, ok = row
                if not ok:
                    continue
                groups.setdefault(key, []).append((ext, md5h))
            for key in sorted(groups):
                parts = groups[key]
                exts = ",".join(sorted(e for e, _ in parts))
                sig = ",".join(sorted(f"{e}:{m}" for e, m in parts))
                values.append(
                    "(%d, %s, %s, %d, %s, %s)" % (
                        cls, _sql_lit(bad), _sql_lit(key), len(parts),
                        _sql_lit(exts), _sql_lit(sig),
                    )
                )
    rows_sql = ",\n          ".join(values)
    return f"""
        WITH consts(cls, bad, key, n_parts, exts, parts_sig) AS (
          VALUES {rows_sql}
        ),
        base AS (
          SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS cls,
                 doc_id % 17 = 0 AS bad
          FROM documents)
        SELECT CAST(b.doc_id AS BIGINT) AS shard, c.key,
               CAST(c.n_parts AS BIGINT) AS n_parts,
               c.exts, c.parts_sig
        FROM base b JOIN consts c ON c.cls = b.cls AND c.bad = b.bad
    """


def webdataset_group_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset sample regrouping (sources/tar.py
    ``webdataset_samples``): member rows → one row per (shard, key)
    with the sorted extension list and the deterministic
    ``ext:md5`` parts signature — the join/dedup handle for grouped
    image-text samples.  One partial-aggregation groupBy; the torn
    %%17 member drops exactly its own part from its sample."""
    from ..sources import tar as tarmod

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dec = tarmod.decode_tar_records(
        tarmod.attach_tar_blob(docs), id_col="id"
    )
    return tarmod.webdataset_samples(dec, shard_col="id", key_col="key")


QUERIES["webdataset_group_check"] = webdataset_group_check
ORACLES["webdataset_group_check"] = _webdataset_group_oracle()


def _zip_fixture_rows(cls: int, torn: bool, corrupt: bool):
    """Member rows (index, name, key, ext, size, md5_or_None, ok) the
    zip walker must produce for one fixture shape, computed through
    ``iter_zip_members`` itself over the shape's blob.  The deflate
    (%13) variant is asserted IDENTICAL to the stored shape for every
    (torn, corrupt) combination — the compression-transparency
    claim."""
    import hashlib as _hl

    from ..sources import zip as zipmod

    def rows_for(did):
        out = []
        for idx, name, size, content, ok in zipmod.iter_zip_members(
            zipmod.build_zip_blob(did)
        ):
            key, ext = zipmod.wds_key_ext(name) if name else (None, None)
            out.append((
                idx, name, key, ext, size,
                _hl.md5(content).hexdigest() if content is not None
                else None,
                ok,
            ))
        return out

    def pick(deflate):
        return next(
            d for d in range(30000)
            if d % 6 == cls
            and (d % 17 == 0) == torn
            and (d % 19 == 0) == corrupt
            and (d % 13 == 0) == deflate
        )

    out = rows_for(pick(False))
    assert out == rows_for(pick(True)), (cls, torn, corrupt)
    return out


def _zip_members_oracle() -> str:
    """Pinned row-table oracle for the zip shard member walk: for
    every (class, torn?, corrupt?) fixture shape the exact member
    rows — names, WebDataset key/ext splits, declared sizes, content
    md5s, the single-row torn-central-directory collapse, and the
    corrupt member flagged ALONE with the walk continuing — computed
    driver-side through the same walker; joined to documents on
    (cls, torn, corrupt)."""
    values = []
    for cls in range(6):
        for torn in (False, True):
            for corrupt in ((False, True) if not torn else (False,)):
                for row in _zip_fixture_rows(cls, torn, corrupt):
                    values.append(
                        "(%d, %s, %s, %s)" % (
                            cls, _sql_lit(torn), _sql_lit(corrupt),
                            ", ".join(_sql_lit(v) for v in row),
                        )
                    )
    rows_sql = ",\n          ".join(values)
    return f"""
        WITH consts(cls, torn, corrupt, member_index, member_name,
                    key, ext, size, content_md5, ok) AS (
          VALUES {rows_sql}
        ),
        base AS (
          SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS cls,
                 doc_id % 17 = 0 AS torn,
                 doc_id % 17 <> 0 AND doc_id % 19 = 0 AS corrupt
          FROM documents)
        SELECT CAST(b.doc_id AS BIGINT) AS doc_id,
               CAST(c.member_index AS BIGINT) AS member_index,
               c.member_name, c.key, c.ext,
               CAST(c.size AS BIGINT) AS size,
               c.content_md5, c.ok
        FROM base b
        JOIN consts c ON c.cls = b.cls AND c.torn = b.torn
                     AND c.corrupt = b.corrupt
    """


def zip_members_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zip shard source (sources/zip.py ``decode_zip_records`` over
    ``iter_zip_members``): central-directory member walk with
    per-member CRC32 verification, stored/deflate transparency, and
    zip's tail-authority honesty — a torn tail loses the central
    directory and collapses to ONE flagged row (no boundary is
    trustworthy), while a corrupt MEMBER (%%19 plant: one flipped
    byte, caught by CRC) flags only itself and the walk CONTINUES,
    the structural opposite of tar's header chain.  Fixture: the tar
    source's 6 classes re-shipped as zip (%%13 deflate — identical
    rows), %%17 torn tail.  Map-side, zero shuffles."""
    from ..sources import zip as zipmod

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dec = zipmod.decode_zip_records(
        zipmod.attach_zip_blob(docs), id_col="id"
    )
    return dec.select(
        F.col("id").alias("doc_id"),
        "member_index", "member_name", "key", "ext", "size",
        F.md5(F.col("content")).alias("content_md5"),
        "ok",
    )


QUERIES["zip_members_check"] = zip_members_check
ORACLES["zip_members_check"] = _zip_members_oracle()


def _zip_group_oracle() -> str:
    """Pinned row-table oracle for WebDataset regrouping over ZIP
    member rows: per (class, torn?, corrupt?) the (key, n_parts,
    exts, parts_sig) rows, replayed in Python over the walker's good
    rows — the corrupt member's sample loses exactly that part; a
    torn archive contributes no samples at all."""
    values = []
    for cls in range(6):
        for torn in (False, True):
            for corrupt in ((False, True) if not torn else (False,)):
                groups: dict = {}
                for row in _zip_fixture_rows(cls, torn, corrupt):
                    idx, name, key, ext, size, md5h, ok = row
                    if not ok:
                        continue
                    groups.setdefault(key, []).append((ext, md5h))
                for key in sorted(groups):
                    parts = groups[key]
                    exts = ",".join(sorted(e for e, _ in parts))
                    sig = ",".join(sorted(f"{e}:{m}" for e, m in parts))
                    values.append(
                        "(%d, %s, %s, %s, %d, %s, %s)" % (
                            cls, _sql_lit(torn), _sql_lit(corrupt),
                            _sql_lit(key), len(parts),
                            _sql_lit(exts), _sql_lit(sig),
                        )
                    )
    rows_sql = ",\n          ".join(values)
    return f"""
        WITH consts(cls, torn, corrupt, key, n_parts, exts,
                    parts_sig) AS (
          VALUES {rows_sql}
        ),
        base AS (
          SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS cls,
                 doc_id % 17 = 0 AS torn,
                 doc_id % 17 <> 0 AND doc_id % 19 = 0 AS corrupt
          FROM documents)
        SELECT CAST(b.doc_id AS BIGINT) AS shard, c.key,
               CAST(c.n_parts AS BIGINT) AS n_parts,
               c.exts, c.parts_sig
        FROM base b
        JOIN consts c ON c.cls = b.cls AND c.torn = b.torn
                     AND c.corrupt = b.corrupt
    """


def zip_group_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset sample regrouping over ZIP shards — the tar
    source's ``webdataset_samples`` applied verbatim to the zip
    walker's rows (same member-row schema by design): one row per
    (shard, key) with the sorted extension list and ``ext:md5`` parts
    signature.  The %%19 corrupt member drops exactly its own part
    from its sample; a %%17 torn archive contributes nothing."""
    from ..sources import tar as tarmod
    from ..sources import zip as zipmod

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dec = zipmod.decode_zip_records(
        zipmod.attach_zip_blob(docs), id_col="id"
    )
    return tarmod.webdataset_samples(dec, shard_col="id", key_col="key")


QUERIES["zip_group_check"] = zip_group_check
ORACLES["zip_group_check"] = _zip_group_oracle()


def subtitle_parse_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRT / WebVTT timed-text parse (operators/text.py
    ``subtitle_cues``): blank-line block split, one timestamp grammar
    for SRT's comma+hours and VTT's dot+optional-hours, header /
    NOTE / identifier lines skipped, multi-line cue text joined —
    all Catalyst regexp expressions, zero Python.  Fixture: 4 cue
    classes × (SRT / WebVTT) packagings that must parse to IDENTICAL
    rows (the packaging-transparency claim, stated arithmetically by
    the oracle); %% 17 garbles the LAST cue's timestamp line
    (ok=false, NULL times, text kept)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    cues = text.subtitle_cues(text.attach_subtitle_text(docs))
    return cues.select(
        F.col("id").alias("doc_id"),
        "cue_idx", "start_ms", "end_ms", "text", "ok",
    )


QUERIES["subtitle_parse_check"] = subtitle_parse_check
ORACLES["subtitle_parse_check"] = """
    WITH base AS (
      SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS cls,
             doc_id % 17 = 0 AS torn
      FROM documents),
    cues AS (
      SELECT doc_id, cls, torn,
             CAST(unnest(generate_series(0, cls + 1)) AS INTEGER)
               AS cue_idx
      FROM base)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, cue_idx,
      CASE WHEN torn AND cue_idx = cls + 1 THEN NULL
           ELSE CAST(800 * cue_idx + 13 * cls AS BIGINT)
           END AS start_ms,
      CASE WHEN torn AND cue_idx = cls + 1 THEN NULL
           ELSE CAST(800 * cue_idx + 13 * cls + 900 + 7 * cue_idx
                     AS BIGINT)
           END AS end_ms,
      'cue ' || cue_idx || ' of class ' || cls || ' line one'
        || CASE WHEN cue_idx % 2 = 1
                THEN chr(10) || 'and line two (' || cue_idx || ')'
                ELSE '' END AS text,
      NOT (torn AND cue_idx = cls + 1) AS ok
    FROM cues
"""


def subtitle_frame_align_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption-frame ALIGNMENT — the composition a video training
    corpus needs (frame, caption) pairs from: real MJPEG frame decode
    (``video_frame_hashes``) joined to parsed subtitle cues
    (``subtitle_cues``) on document id where the frame's timestamp
    (500 ms stride) falls inside the cue's window.  An id-equi join
    with a range post-filter — Catalyst plans it as a hash join on
    id, no cartesian.  Torn videos/cues drop out via their ok flags;
    the surviving pair set is pure fixture arithmetic, stated
    independently by the oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    # r19 opt: the former id-spread repartition is removed — the
    # per-task decode memo collapsed the per-doc JPEG decode to a
    # cache probe, so the extra exchange cost more than it bought
    # (guide §2.4); a real corpus scan arrives with its own
    # parallelism
    frames = (
        multimodal.video_frame_hashes(
            multimodal.attach_avi_blob(docs)
        )
        .filter("ok")
        .select("id", "frame_idx")
    )
    cues = (
        text.subtitle_cues(text.attach_subtitle_text(docs))
        .filter("ok")
        .select(
            F.col("id").alias("cid"), "cue_idx", "start_ms", "end_ms"
        )
    )
    ts = (F.col("frame_idx") * 500).cast("long")
    return (
        frames.join(
            cues,
            (F.col("id") == F.col("cid"))
            & (ts >= F.col("start_ms"))
            & (ts < F.col("end_ms")),
        )
        .select(F.col("id").alias("doc_id"), "frame_idx", "cue_idx")
    )


QUERIES["subtitle_frame_align_check"] = subtitle_frame_align_check
ORACLES["subtitle_frame_align_check"] = """
    WITH base AS (
      SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS vcls,
             CAST(doc_id % 4 AS INTEGER) AS scls
      FROM documents WHERE doc_id % 17 <> 0),
    frames AS (
      SELECT doc_id, scls,
             CAST(unnest(generate_series(0, 1 + vcls % 3)) AS INTEGER)
               AS frame_idx
      FROM base),
    cues AS (
      SELECT doc_id AS cdoc, scls AS ccls,
             CAST(unnest(generate_series(0, scls + 1)) AS INTEGER)
               AS cue_idx
      FROM base)
    SELECT CAST(f.doc_id AS BIGINT) AS doc_id, f.frame_idx, c.cue_idx
    FROM frames f JOIN cues c ON c.cdoc = f.doc_id
    WHERE 500 * f.frame_idx >= 800 * c.cue_idx + 13 * c.ccls
      AND 500 * f.frame_idx <
          800 * c.cue_idx + 13 * c.ccls + 900 + 7 * c.cue_idx
"""


def audio_hash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO dedup end-to-end (operators/multimodal.py
    ``audio_hash_dedup``): real PCM16 decode → 64-window energy-
    envelope hash → the shared exact-collapse-first banded-LSH core →
    Hamming ≤ 6 verify → components, summarized as (cluster,
    n_members).  Fixture classes are md5-derived envelope patterns
    pairwise ≥ 25 bits apart, each with a 3-bit LAST-BAND perturbed
    variant (recall guaranteed by band equality; no false merges
    possible at distance ≥ 22) — so the expected clustering is
    exactly the 8 base-pattern classes, stated independently by the
    oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = multimodal.audio_hash_dedup(
        multimodal.attach_wav_dedup_blob(docs), "content", "id"
    )
    return clusters.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_members")
    )


QUERIES["audio_hash_dedup_clusters"] = audio_hash_dedup_clusters

ORACLES["audio_hash_dedup_clusters"] = """
    WITH m AS (
      SELECT doc_id, CAST(doc_id % 16 AS INTEGER) % 8 AS cls
      FROM documents)
    SELECT CAST(min(doc_id) AS BIGINT) AS cluster,
           count(*) AS n_members
    FROM m GROUP BY cls
"""




def _gif_pinned_oracle() -> str:
    rows = {}
    for cls in range(12):
        idx, pal = multimodal._gif_fixture_frame(cls)
        dec = multimodal.gif_decode_pixels(multimodal.gif_encode(idx, pal))
        rows[cls] = (
            format(multimodal.image_ahash(dec), "016x"),
            format(multimodal.image_dhash(dec), "016x"),
        )
    ah = " ".join(
        "WHEN doc_id %% 12 = %d THEN '%s'" % (c, v[0]) for c, v in rows.items()
    )
    dh = " ".join(
        "WHEN doc_id %% 12 = %d THEN '%s'" % (c, v[1]) for c, v in rows.items()
    )
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS id,
          CAST(CASE WHEN bad THEN 0 ELSE 16 END AS INTEGER) AS width,
          CAST(CASE WHEN bad THEN 0 ELSE 16 END AS INTEGER) AS height,
          CAST(CASE WHEN bad THEN 0 ELSE 3 END AS INTEGER) AS channels,
          CASE WHEN bad THEN NULL ELSE (CASE {ah} END) END AS ahash,
          CASE WHEN bad THEN NULL ELSE (CASE {dh} END) END AS dhash,
          NOT bad AS ok
        FROM (SELECT doc_id,
                     doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
              FROM documents)
    """


def gif_pixel_hash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF pixel decode (operators/multimodal.py
    ``gif_decode_pixels``: hand-rolled GIF-variant LZW with
    early-change width synchronization and 4096-table resets, global
    color table, four-pass de-interlace) feeding the same integer
    aHash/dHash grid as the PNG tier.  Odd ids encode interlaced with
    identical pixels, so both deinterlace paths run under one pinned
    hash set; %% 17 truncates inside the palette, %% 13 plants a JPEG
    (the one remaining codec stub).  The oracle pins the 12 expected
    hash pairs computed driver-side through the same decode
    functions."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.image_pixel_hashes(multimodal.attach_gif_blob(docs))


QUERIES["gif_pixel_hash_check"] = gif_pixel_hash_check
ORACLES["gif_pixel_hash_check"] = _gif_pinned_oracle()


def _bmp_pinned_oracle() -> str:
    rows = {}
    for cls in range(12):
        dec = multimodal.bmp_decode_pixels(
            multimodal.bmp_encode(multimodal._bmp_fixture_pixels(cls))
        )
        rows[cls] = (
            format(multimodal.image_ahash(dec), "016x"),
            format(multimodal.image_dhash(dec), "016x"),
        )
    ah = " ".join(
        "WHEN doc_id %% 12 = %d THEN '%s'" % (c, v[0]) for c, v in rows.items()
    )
    dh = " ".join(
        "WHEN doc_id %% 12 = %d THEN '%s'" % (c, v[1]) for c, v in rows.items()
    )
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS id,
          CAST(CASE WHEN bad THEN 0 ELSE 16 END AS INTEGER) AS width,
          CAST(CASE WHEN bad THEN 0 ELSE 16 END AS INTEGER) AS height,
          CAST(CASE WHEN bad THEN 0 ELSE 3 END AS INTEGER) AS channels,
          CASE WHEN bad THEN NULL ELSE (CASE {ah} END) END AS ahash,
          CASE WHEN bad THEN NULL ELSE (CASE {dh} END) END AS dhash,
          NOT bad AS ok
        FROM (SELECT doc_id,
                     doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
              FROM documents)
    """


def bmp_pixel_hash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BMP pixel decode (operators/multimodal.py
    ``bmp_decode_pixels``: uncompressed BI_RGB DIB rows, 4-byte row
    padding, bottom-up AND top-down orders, BGR→RGB, 8-bit palette
    quads) through the shared hash grid.  Odd ids write top-down DIBs
    with identical pixels; %% 17 truncates the pixel body, %% 13
    plants an RLE8 BMP (the documented BI_RGB-only stub).  Oracle
    pins the 12 hash pairs computed driver-side through the same
    decode functions."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.image_pixel_hashes(multimodal.attach_bmp_blob(docs))


QUERIES["bmp_pixel_hash_check"] = bmp_pixel_hash_check
ORACLES["bmp_pixel_hash_check"] = _bmp_pinned_oracle()


#: robots fixture rule table — the single source for the composed
#: robots.txt payloads (Spark parses those), the effective-rule SQL
#: literals (the oracle replays these) and the expected group
#: semantics.  site-a defines a trainingbot-specific group (which
#: REPLACES its * group for that agent), site-b exercises the $ and *
#: pattern forms, site-c is an explicit allow-all.
_ROBOTS_RULES = (
    ("docs.site-a.com", "*", False, "/private/"),
    ("docs.site-a.com", "*", True, "/private/ok/"),
    ("docs.site-a.com", "trainingbot", False, "/bots/"),
    ("cdn.site-b.com", "*", False, "/*.json$"),
    ("cdn.site-b.com", "*", False, "/tmp*"),
    ("www.site-c.com", "*", True, "/"),
)

_ROBOTS_HOSTS = (
    "docs.site-a.com", "cdn.site-b.com", "www.site-c.com",
    "off.site-d.com",  # no robots.txt at all
)
_ROBOTS_PATHS = (
    "/private/x", "/private/ok/y", "/bots/z", "/data/file.json",
    "/tmp123", "/public/p",
)


def _robots_payloads() -> list:
    """Compose one robots.txt per fixture host from _ROBOTS_RULES,
    with the parser hazards planted: comments, blank lines, MIXED-case
    keys, an unknown directive, and an empty Disallow."""
    out = []
    for host in set(h for h, *_ in _ROBOTS_RULES):
        lines = ["# synthetic robots fixture"]
        for agent in ("*", "trainingbot"):
            rules = [r for r in _ROBOTS_RULES if r[0] == host and r[1] == agent]
            if not rules:
                continue
            lines.append("")
            lines.append(f"User-Agent: {agent}")
            for _h, _a, allow, rule in rules:
                lines.append(("ALLOW: " if allow else "Disallow: ") + rule)
            lines.append("Crawl-delay: 5")
        lines.append("Disallow:")  # trailing empty rule -> dropped
        out.append((host, "\n".join(lines)))
    return out


def _robots_effective(agent: str) -> list:
    """RFC 9309 group choice over the fixture table: the agent's own
    group replaces * per host."""
    own = {h for h, a, *_ in _ROBOTS_RULES if a == agent}
    return [
        (h, allow, rule)
        for h, a, allow, rule in _ROBOTS_RULES
        if a == agent or (a == "*" and h not in own)
    ]


def robots_filter_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt end-to-end (operators/web.py ``parse_robots`` +
    ``robots_filter``): payloads composed from the fixture rule table
    are PARSED by the Spark side (comments, mixed-case keys, unknown
    directives, empty Disallow, multi-group files), then the URL set
    (host×path rotation over documents) is filtered for BOTH the ``*``
    agent and ``trainingbot`` — covering the agent-group replacement
    (trainingbot on site-a ignores the * rules entirely), the
    longest-match allow override (/private/ok/ beats /private/ for *),
    the $ and * pattern forms, and a host with no robots.txt.  The
    oracle never parses: it replays the effective rules as literals
    (regexes via the shared Python translation) with the same
    longest-match window — so a parser bug IS an oracle mismatch."""
    from ..operators import web

    d = F.col("doc_id")
    host = (
        F.when(d % 4 == 0, F.lit(_ROBOTS_HOSTS[0]))
        .when(d % 4 == 1, F.lit(_ROBOTS_HOSTS[1]))
        .when(d % 4 == 2, F.lit(_ROBOTS_HOSTS[2]))
        .otherwise(F.lit(_ROBOTS_HOSTS[3]))
    )
    path = (
        F.when(d % 6 == 0, F.lit(_ROBOTS_PATHS[0]))
        .when(d % 6 == 1, F.lit(_ROBOTS_PATHS[1]))
        .when(d % 6 == 2, F.lit(_ROBOTS_PATHS[2]))
        .when(d % 6 == 3, F.lit(_ROBOTS_PATHS[3]))
        .when(d % 6 == 4, F.lit(_ROBOTS_PATHS[4]))
        .otherwise(F.lit(_ROBOTS_PATHS[5]))
    )
    urls = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("url", F.concat(F.lit("http://"), host, path))
    )
    robots = spark.createDataFrame(
        _robots_payloads(), "host string, robots_txt string"
    )
    rules = web.parse_robots(robots)
    parts = []
    for agent in ("*", "trainingbot"):
        parts.append(
            web.robots_filter(urls, rules, agent=agent).withColumn(
                "agent", F.lit(agent)
            )
        )
    return parts[0].unionByName(parts[1])


QUERIES["robots_filter_check"] = robots_filter_check


def _robots_oracle() -> str:
    from ..operators.web import robots_rule_regex_py

    hosts = " ".join(
        "WHEN doc_id %% 4 = %d THEN '%s'" % (i, h)
        for i, h in enumerate(_ROBOTS_HOSTS[:3])
    )
    paths = " ".join(
        "WHEN doc_id %% 6 = %d THEN '%s'" % (i, p)
        for i, p in enumerate(_ROBOTS_PATHS[:5])
    )
    parts = []
    for agent in ("*", "trainingbot"):
        vals = ", ".join(
            "('%s', %s, %d, '%s')"
            % (h, "TRUE" if allow else "FALSE", len(rule),
               robots_rule_regex_py(rule))
            for h, allow, rule in _robots_effective(agent)
        )
        parts.append(f"""
        SELECT doc_id, url, '{agent}' AS agent FROM u
        WHERE doc_id NOT IN (
          SELECT doc_id FROM (
            SELECT u.doc_id, r.allow,
                   row_number() OVER (
                     PARTITION BY u.doc_id
                     ORDER BY r.rule_len DESC, r.allow DESC) AS rk
            FROM u JOIN (VALUES {vals}) r(host, allow, rule_len, re)
              ON u.host = r.host AND regexp_matches(u.path, r.re))
          WHERE rk = 1 AND NOT allow)""")
    return f"""
        WITH u AS (
          SELECT doc_id,
                 CASE {hosts} ELSE '{_ROBOTS_HOSTS[3]}' END AS host,
                 CASE {paths} ELSE '{_ROBOTS_PATHS[5]}' END AS path,
                 'http://' ||
                 (CASE {hosts} ELSE '{_ROBOTS_HOSTS[3]}' END) ||
                 (CASE {paths} ELSE '{_ROBOTS_PATHS[5]}' END) AS url
          FROM documents)
        {" UNION ALL ".join(parts)}
    """


ORACLES["robots_filter_check"] = _robots_oracle()


def _jpeg_pinned_oracle() -> str:
    rows = {}
    for cls in range(12):
        px = multimodal._jpeg_fixture_pixels(cls)
        blob = multimodal.jpeg_encode(
            px, subsample=(px.shape[2] == 3 and cls % 2 == 1)
        )
        dec = multimodal.jpeg_decode_pixels(blob)
        rows[cls] = (
            px.shape[2],
            format(multimodal.image_ahash(dec), "016x"),
            format(multimodal.image_dhash(dec), "016x"),
        )
    chan = " ".join(
        "WHEN doc_id %% 12 = %d THEN %d" % (c, v[0]) for c, v in rows.items()
    )
    ah = " ".join(
        "WHEN doc_id %% 12 = %d THEN '%s'" % (c, v[1]) for c, v in rows.items()
    )
    dh = " ".join(
        "WHEN doc_id %% 12 = %d THEN '%s'" % (c, v[2]) for c, v in rows.items()
    )
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS id,
          CAST(CASE WHEN bad THEN 0 ELSE 16 END AS INTEGER) AS width,
          CAST(CASE WHEN bad THEN 0 ELSE 16 END AS INTEGER) AS height,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {chan} END)
               END AS INTEGER) AS channels,
          CASE WHEN bad THEN NULL ELSE (CASE {ah} END) END AS ahash,
          CASE WHEN bad THEN NULL ELSE (CASE {dh} END) END AS dhash,
          NOT bad AS ok
        FROM (SELECT doc_id,
                     doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
              FROM documents)
    """