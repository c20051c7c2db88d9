"""Registry slice 6/6 — see registry_parts/__init__.py."""
from __future__ import annotations

from .part5 import *  # noqa: F401,F403 — append-only chain
from .part5 import (  # noqa: F401 — underscore chain
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
    _JUSTEXT_FIXTURE_SQL,
    _JUSTEXT_TAIL,
    _MIXTURE,
    _MULTISCRIPT_TEXTS,
    _MULTISCRIPT_TEXT_SQL,
    _OCC_VIEW_COLUMNS,
    _OCC_VIEW_SQL,
    _ORDERS_PROFILE_COLS,
    _ROBOTS_HOSTS,
    _ROBOTS_PATHS,
    _ROBOTS_RULES,
    _SPLITS,
    _TEMP_BUDGET,
    _TGT_BUDGET,
    _URL_FIXTURE_SQL,
    _URL_NORM_SQL,
    _adpcm_pinned_oracle,
    _audio_resample_oracle,
    _bmp_pinned_oracle,
    _bmp_rle_pinned_oracle,
    _bmp_variant_pinned_oracle,
    _bpe_learned_oracle_sql,
    _content_encoding_pinned_oracle,
    _dec,
    _docs_as_lines,
    _full_metrics_oracle_sql,
    _gif_pinned_oracle,
    _hash_case_oracle,
    _hash_split_oracle_sql,
    _ico_pinned_oracle,
    _jpeg_pinned_oracle,
    _jpeg_prog_pinned_oracle,
    _justext_oracles,
    _justext_payload_col,
    _merged_profile_oracle_sql,
    _minhash_keepers_oracle,
    _mixture_oracle_sql,
    _ms_adpcm_pinned_oracle,
    _multiscript_text_col,
    _ngram_rep_oracle,
    _occurrence_checks,
    _pdf_cid_pinned_oracle,
    _pdf_encrypted_pinned_oracle,
    _pdf_image_pinned_oracle,
    _pdf_text_pinned_oracle,
    _pdf_token_stats_oracle,
    _pii_oracle_sql,
    _png_i_pinned_oracle,
    _png_pinned_oracle,
    _quality_drift_oracle_sql,
    _quality_histogram_oracle_sql,
    _quality_model_oracle_sql,
    _robots_effective,
    _robots_oracle,
    _robots_payloads,
    _sql_lit,
    _synthetic_url_col,
    _table_profile_oracle_sql,
    _tar_fixture_rows,
    _tar_members_oracle,
    _tiff_pinned_oracle,
    _token_budget_by_group_oracle_sql,
    _token_budget_oracle_sql,
    _top_fraction_oracle_sql,
    _wav_codec_pinned_oracle,
    _wav_pinned_oracle,
    _web,
    _webdataset_group_oracle,
    _wire_decode_pinned_oracle,
    _zip_fixture_rows,
    _zip_group_oracle,
    _zip_members_oracle,
    _zstd_dict_pinned_oracle,
)



def epub_text_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPUB text extraction (operators/text.py ``epub_extract`` →
    ``epub_text``): the book container over the ZIP SOURCE —
    container.xml → OPF manifest → SPINE-ordered chapters (the
    fixture stores chapter files in reverse archive order on odd
    variants: reading order must come from the spine), XHTML
    stripped with head/script/style dropped, entities decoded.
    Arithmetic full-text oracle; %%17 flips a chapter byte (CRC),
    %%13 renames the OPF — both ok=false."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = text.epub_text(text.attach_epub_blob(docs))
    return out.select(
        F.col("id").alias("doc_id"),
        "n_chapters", "n_chars", "text", "ok",
    )


QUERIES["epub_text_check"] = epub_text_check
ORACLES["epub_text_check"] = """
    WITH base AS (
      SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS cls,
             doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
      FROM documents),
    chapters AS (
      SELECT doc_id, cls,
             CAST(unnest(generate_series(0, cls + 1)) AS INTEGER) AS k
      FROM base WHERE NOT bad),
    texts AS (
      SELECT doc_id, cls,
             string_agg(
               'chapter ' || k || ' of class ' || cls
                 || ' with book words second line ' || k
                 || CASE WHEN k = 0
                    THEN ' errata & updates < >' ELSE '' END,
               chr(10) ORDER BY k) AS text
      FROM chapters GROUP BY doc_id, cls)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cls + 2 AS INTEGER) AS n_chapters,
           CAST(length(text) AS INTEGER) AS n_chars,
           text, TRUE AS ok
    FROM texts
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), NULL, NULL, NULL, FALSE
    FROM base WHERE bad
"""


def rtf_text_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RTF text extraction (operators/text.py ``rtf_extract`` →
    ``rtf_text``): group-aware control-word walk with destination
    skipping (fonttbl/colortbl/info/{\\*…}), \\par newlines, \\tab,
    cp1252 \\'hh hex AND \\uN unicode escapes (both encodings of the
    same text pinned identical by the arithmetic oracle), \\uc
    fallback accounting.  %%17 truncates (unbalanced groups), %%13
    injects a cp1252-undefined byte — both ok=false."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = text.rtf_text(text.attach_rtf_blob(docs))
    return out.select(
        F.col("id").alias("doc_id"),
        "n_paragraphs", "n_chars", "text", "ok",
    )


QUERIES["rtf_text_check"] = rtf_text_check
ORACLES["rtf_text_check"] = """
    WITH base AS (
      SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS cls,
             doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
      FROM documents),
    paras AS (
      SELECT doc_id, cls,
             CAST(unnest(generate_series(0, cls + 1)) AS INTEGER) AS k
      FROM base WHERE NOT bad),
    texts AS (
      SELECT doc_id, cls,
             string_agg(
               'class ' || cls || ' paragraph ' || k
                 || ' with café words'
                 || CASE WHEN k = 0
                    THEN chr(9) || 'after tab {braces} \\ and ünïcode'
                    ELSE '' END,
               chr(10) ORDER BY k) AS text
      FROM paras GROUP BY doc_id, cls)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cls + 2 AS INTEGER) AS n_paragraphs,
           CAST(length(text) AS INTEGER) AS n_chars,
           text, TRUE AS ok
    FROM texts
    UNION ALL
    SELECT CAST(doc_id AS BIGINT), NULL, NULL, NULL, FALSE
    FROM base WHERE bad
"""


def _office_corpus_pinned_oracle() -> str:
    """Pinned oracle for the composed office-corpus tier: per
    (format, class) the token/char counts the five extractors must
    feed the shared token expression — computed driver-side through
    the SAME extraction functions."""
    extractors = (
        lambda b: (text.docx_extract(b) or (None, None))[1],
        lambda b: (text.xlsx_extract(b) or (None, None, None))[2],
        lambda b: (text.pptx_extract(b) or (None, None))[1],
        lambda b: (text.epub_extract(b) or (None, None))[1],
        lambda b: (text.rtf_extract(b) or (None, None))[1],
    )
    builders = (
        text.build_docx_blob, text.build_xlsx_blob,
        text.build_pptx_blob, text.build_epub_blob,
        text.build_rtf_blob,
    )
    rows = {}
    for fmt in range(5):
        for cls in range(4):
            did = next(
                d for d in range(4000)
                if d % 5 == fmt and d % 4 == cls
                and d % 17 and d % 13
            )
            t = extractors[fmt](builders[fmt](did))
            assert t is not None, (fmt, cls)
            rows[(fmt, cls)] = (len(t.split()), len(t))
    tok_c = " ".join(
        "WHEN fmt = %d AND cls = %d THEN %d" % (f, c, v[0])
        for (f, c), v in rows.items()
    )
    ch_c = " ".join(
        "WHEN fmt = %d AND cls = %d THEN %d" % (f, c, v[1])
        for (f, c), v in rows.items()
    )
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 5 AS INTEGER) AS fmt,
                 CAST(doc_id % 4 AS INTEGER) AS cls,
                 doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
          FROM documents)
        SELECT CAST(doc_id AS BIGINT) AS doc_id, fmt,
          CASE WHEN bad THEN NULL
               ELSE CAST(CASE {tok_c} END AS INTEGER) END AS n_tokens,
          CASE WHEN bad THEN NULL
               ELSE CAST(CASE {ch_c} END AS INTEGER) END AS n_chars,
          NOT bad AS ok
        FROM base
    """


def office_corpus_token_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INTEGRATION claim for the document-extraction family: five
    tiers (DOCX / XLSX / PPTX / EPUB / RTF, picked by doc_id %% 5)
    extract map-side and feed the SAME downstream Catalyst token
    expression (``text.token_count``) — extraction output is corpus
    text, not a dead end.  Per-format plants (%%17 / %%13) surface as
    ok=false rows through the union.  Five map-side projections + a
    zero-shuffle union: scan-parallel at any corpus size."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    faces = (
        (text.attach_docx_blob, text.docx_text),
        (text.attach_xlsx_blob, text.xlsx_text),
        (text.attach_pptx_blob, text.pptx_text),
        (text.attach_epub_blob, text.epub_text),
        (text.attach_rtf_blob, text.rtf_text),
    )
    parts = []
    for code, (attach, face) in enumerate(faces):
        sub = docs.filter(F.col("doc_id") % 5 == code)
        parts.append(
            face(attach(sub)).select(
                F.col("id").alias("doc_id"),
                F.lit(code).cast("int").alias("fmt"),
                "text", "ok",
            )
        )
    allp = parts[0]
    for p in parts[1:]:
        allp = allp.unionByName(p)
    return allp.select(
        "doc_id", "fmt",
        F.when(F.col("ok"), text.token_count(F.col("text")))
        .cast("int").alias("n_tokens"),
        F.when(F.col("ok"), F.length("text"))
        .cast("int").alias("n_chars"),
        "ok",
    )


QUERIES["office_corpus_token_check"] = office_corpus_token_check
ORACLES["office_corpus_token_check"] = _office_corpus_pinned_oracle()


def _eml_pinned_oracle() -> str:
    """Pinned oracle for the mail tier, computed through the same
    extraction: all five packagings of a class carry the same text
    (html collapses the newline — the tag-strip convention, asserted
    here), subjects/senders are class arithmetic."""
    rows = {}
    for cls in range(4):
        for var in range(5):
            did = next(
                d for d in range(4000)
                if d % 4 == cls and (d // 4) % 5 == var
                and d % 17 and d % 13
            )
            got = text.eml_extract(text.build_eml_blob(did))
            assert got is not None, (cls, var)
            s, f, np_, t = got
            assert s == "Subject line %d" % cls, (cls, var)
            rows[(cls, var)] = (np_, t)
    for cls in range(4):
        plain = {rows[(cls, v)][1] for v in (0, 1, 2, 4)}
        assert len(plain) == 1, cls
        assert rows[(cls, 3)][1] == next(iter(plain)).replace(
            "\n", " "
        ), cls
    np_c = " ".join(
        "WHEN cls = %d AND var = %d THEN %d" % (c, v, r[0])
        for (c, v), r in rows.items()
    )
    tx_c = " ".join(
        "WHEN cls = %d AND var = %d THEN '%s'"
        % (c, v, r[1].replace("'", "''").replace("\n", "' || chr(10) || '"))
        for (c, v), r in rows.items()
    )
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS cls,
                 CAST((doc_id // 4) % 5 AS INTEGER) AS var,
                 doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
          FROM documents)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CASE WHEN bad THEN NULL
               ELSE 'Subject line ' || cls END AS subject,
          CASE WHEN bad THEN NULL
               ELSE 'sender' || cls || '@example.org' END AS sender,
          CASE WHEN bad THEN NULL
               ELSE CAST(CASE {np_c} END AS INTEGER) END AS n_parts,
          CASE WHEN bad THEN NULL
               ELSE CAST(length(CASE {tx_c} END) AS INTEGER)
               END AS n_chars,
          CASE WHEN bad THEN NULL ELSE CASE {tx_c} END END AS text,
          NOT bad AS ok
        FROM base
    """


def eml_text_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 822 / MIME mail extraction (operators/text.py
    ``eml_extract`` → ``eml_text``): stdlib ``email`` walks the
    structure while transfer encodings decode STRICTLY here (base64
    validated — the stdlib silently drops invalid chars — and
    charsets strict, so corrupt bodies flag instead of garbling);
    multipart/alternative prefers text/plain over the html rendering,
    html strips through the shared tag collapse, RFC 2047 headers
    decode.  All five packagings of a class pin the same text.
    %%17 cuts the message before Subject (the only framing plain
    mail has), %%13 corrupts the base64 alphabet / charset label —
    ok=false."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = text.eml_text(text.attach_eml_blob(docs))
    return out.select(
        F.col("id").alias("doc_id"),
        "subject", "sender", "n_parts", "n_chars", "text", "ok",
    )


QUERIES["eml_text_check"] = eml_text_check
ORACLES["eml_text_check"] = _eml_pinned_oracle()


def _pin_text_lit(s: str) -> str:
    """A python string → a DuckDB expression reproducing it exactly
    (quotes doubled, tabs/newlines spelled chr())."""
    return "'%s'" % (
        s.replace("'", "''")
        .replace("\t", "' || chr(9) || '")
        .replace("\n", "' || chr(10) || '")
    )


def _odf_pinned_oracle() -> str:
    """Pinned oracle for the OpenDocument tier, computed through the
    extraction itself with structural asserts: kind follows doc_id %%
    3, class (doc_id // 3) %% 4 scales units, and the ODF spellings
    of tab / double-space / entities round-trip."""
    rows = {}
    for kind_i in range(3):
        for cls in range(4):
            did = next(
                d for d in range(4000)
                if d % 3 == kind_i and (d // 3) % 4 == cls
                and d % 17 and d % 13
            )
            got = text.odf_extract(text.build_odf_blob(did))
            assert got is not None, (kind_i, cls)
            k, nu, t = got
            assert k == ("odt", "ods", "odp")[kind_i], (kind_i, cls)
            if k == "odt":
                assert nu == 2 + cls and "\ttab  two" in t, cls
            elif k == "ods":
                assert nu == 1 + cls % 2 and "c&<0>" in t, cls
            else:
                assert nu == 2 + cls % 3, cls
            rows[(kind_i, cls)] = (k, nu, t)
    nu_c = " ".join(
        "WHEN kind_i = %d AND cls = %d THEN %d" % (ki, c, r[1])
        for (ki, c), r in rows.items()
    )
    tx_c = " ".join(
        "WHEN kind_i = %d AND cls = %d THEN %s"
        % (ki, c, _pin_text_lit(r[2]))
        for (ki, c), r in rows.items()
    )
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS kind_i,
                 CAST((doc_id // 3) % 4 AS INTEGER) AS cls,
                 doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
          FROM documents)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CASE WHEN bad THEN NULL
               ELSE CASE kind_i WHEN 0 THEN 'odt' WHEN 1 THEN 'ods'
                    ELSE 'odp' END END AS kind,
          CASE WHEN bad THEN NULL
               ELSE CAST(CASE {nu_c} END AS INTEGER) END AS n_units,
          CASE WHEN bad THEN NULL
               ELSE CAST(length(CASE {tx_c} END) AS INTEGER)
               END AS n_chars,
          CASE WHEN bad THEN NULL ELSE CASE {tx_c} END END AS text,
          NOT bad AS ok
        FROM base
    """


def odf_text_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OpenDocument extraction (operators/text.py ``odf_extract`` →
    ``odf_text``): ODT paragraphs / ODS sheet grids (repeats
    honored, padding trimmed, bombs refused) / ODP pages over the
    ZIP SOURCE, dispatched on the ``mimetype`` member with the
    manifest required.  ODF whitespace spellings (``<text:tab/>``,
    ``<text:s text:c>``, ``<text:line-break/>``) round-trip; the
    oracle pins extraction through the builder with structural
    asserts.  %%17 flips a content.xml byte (CRC), %%13 renames
    ``mimetype`` — both ok=false."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = text.odf_text(text.attach_odf_blob(docs))
    return out.select(
        F.col("id").alias("doc_id"),
        "kind", "n_units", "n_chars", "text", "ok",
    )


QUERIES["odf_text_check"] = odf_text_check
ORACLES["odf_text_check"] = _odf_pinned_oracle()


def _mbox_pinned_oracle() -> str:
    """Pinned oracle for the mailbox tier: 1 + doc_id %% 3 messages
    of class doc_id %% 4, every message body STARTING with a
    ``From `` line so the mboxrd quoting round-trip is load-bearing
    in every row."""
    rows = {}
    for nm_i in range(3):
        for cls in range(4):
            did = next(
                d for d in range(4000)
                if d % 3 == nm_i and d % 4 == cls
                and d % 17 and d % 13
            )
            got = text.mbox_extract(text.build_mbox_blob(did))
            assert got is not None, (nm_i, cls)
            nm, t = got
            assert nm == 1 + nm_i, (nm_i, cls)
            assert t.startswith("[mbox subj %d-0] From the top" % cls)
            rows[(nm_i, cls)] = (nm, t)
    tx_c = " ".join(
        "WHEN nm_i = %d AND cls = %d THEN %s"
        % (ni, c, _pin_text_lit(r[1]))
        for (ni, c), r in rows.items()
    )
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 3 AS INTEGER) AS nm_i,
                 CAST(doc_id % 4 AS INTEGER) AS cls,
                 doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
          FROM documents)
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CASE WHEN bad THEN NULL
               ELSE CAST(1 + nm_i AS INTEGER) END AS n_messages,
          CASE WHEN bad THEN NULL
               ELSE CAST(length(CASE {tx_c} END) AS INTEGER)
               END AS n_chars,
          CASE WHEN bad THEN NULL ELSE CASE {tx_c} END END AS text,
          NOT bad AS ok
        FROM base
    """


def mbox_text_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mailbox extraction (operators/text.py ``mbox_extract`` →
    ``mbox_text``): mboxrd envelope split with ``>From`` unquoting,
    each message through the strict EML extractor (all three
    transfer packagings cycle through every mailbox); one torn
    message flags the whole mailbox.  %%17 beheads the first
    message, %%13 corrupts a charset label — both ok=false."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = text.mbox_text(text.attach_mbox_blob(docs))
    return out.select(
        F.col("id").alias("doc_id"),
        "n_messages", "n_chars", "text", "ok",
    )


QUERIES["mbox_text_check"] = mbox_text_check
ORACLES["mbox_text_check"] = _mbox_pinned_oracle()


QUERIES["id3_meta_check"] = id3_meta_check
ORACLES["id3_meta_check"] = """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
      CASE WHEN bad THEN NULL
           ELSE 'Track Title ' || cls END AS title,
      CASE WHEN bad THEN NULL
           ELSE 'Artist é' || cls END AS artist,
      CASE WHEN bad THEN NULL ELSE 'Album ' || cls END AS album,
      CASE WHEN bad THEN NULL ELSE '202' || cls END AS year,
      CASE WHEN bad THEN NULL
           ELSE (cls + 1) || '/12' END AS track,
      NOT bad AS ok
    FROM (SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS cls,
                 doc_id % 17 = 0 AS bad
          FROM documents)
"""


def _gif_anim_pinned_oracle() -> str:
    rows = {}
    nf_case = []
    for cls in range(6):
        did = next(d for d in (cls, cls + 6, cls + 12) if d % 17)
        frames = multimodal.gif_decode_frames(
            multimodal.build_gif_anim_blob(did)
        )
        nf_case.append("WHEN %d THEN %d" % (cls, len(frames)))
        for k, px in enumerate(frames):
            rows[(cls, k)] = (
                format(multimodal.image_ahash(px), "016x"),
                format(multimodal.image_dhash(px), "016x"),
            )
    ah = " ".join(
        "WHEN cls = %d AND frame_idx = %d THEN '%s'" % (c, k, v[0])
        for (c, k), v in rows.items()
    )
    dh = " ".join(
        "WHEN cls = %d AND frame_idx = %d THEN '%s'" % (c, k, v[1])
        for (c, k), v in rows.items()
    )
    nfc = " ".join(nf_case)
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS cls,
                 doc_id % 17 = 0 AS bad
          FROM documents),
        okf AS (
          SELECT doc_id, cls, CASE cls {nfc} END AS nf
          FROM base WHERE NOT bad),
        expanded AS (
          SELECT doc_id, cls, nf,
                 CAST(unnest(generate_series(0, nf - 1)) AS INTEGER)
                   AS frame_idx
          FROM okf)
        SELECT CAST(doc_id AS BIGINT) AS id, frame_idx,
               CAST(nf AS INTEGER) AS n_frames,
               CAST(16 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
               CASE {ah} END AS ahash,
               CASE {dh} END AS dhash,
               TRUE AS ok
        FROM expanded
        UNION ALL
        SELECT CAST(doc_id AS BIGINT), NULL, NULL,
               CAST(0 AS INTEGER), CAST(0 AS INTEGER), NULL, NULL, FALSE
        FROM base WHERE bad
    """


def gif_anim_frame_hash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED GIF decode (operators/multimodal.py
    ``gif_decode_frames``: full GIF89a composition — disposal methods
    restore-to-background / restore-to-previous, transparency holes,
    sub-rectangle frames, the LZW core shared with the static path)
    through the generalized animation-hash operator
    (``video_frame_hashes``, which now dispatches AVI and GIF).  The
    oracle pins per-(class, frame) hash constants of the COMPOSED
    canvases — wrong disposal or transparency handling shifts pixels
    outside the frame's own sub-rect and breaks the hash.  %%17
    truncates (ok=false)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.video_frame_hashes(
        multimodal.attach_gif_anim_blob(docs)
    )


QUERIES["gif_anim_frame_hash_check"] = gif_anim_frame_hash_check
ORACLES["gif_anim_frame_hash_check"] = _gif_anim_pinned_oracle()


def multimodal_header_meta_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-13 container formats through the REAL codec-free header
    parser (operators/multimodal.py ``parse_media_header``): WebP
    lossy/lossless/extended (VP8 sync-code dims, VP8L packed u32 with
    the alpha bit, VP8X 24-bit canvas dims), FLAC STREAMINFO
    (20-bit sample rate + 3-bit channels), and MP4 ISO-BMFF
    (moov→trak→tkhd 16.16 fixed-point dims) — the formats a real
    crawl's media mass actually arrives in.  Planted dims/rates are
    pure doc_id arithmetic (the ``multimodal_header_meta`` pattern),
    so the oracle states the expected parse while Spark must
    genuinely parse the bytes.  Map-side, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.decode_media_headers(
        multimodal.attach_media_blob_v2(docs, id_col="doc_id")
    )


QUERIES["multimodal_header_meta_v2"] = multimodal_header_meta_v2

ORACLES["multimodal_header_meta_v2"] = """
    SELECT doc_id AS id,
      CASE WHEN doc_id % 17 = 0 THEN NULL
           WHEN doc_id % 5 IN (0, 1, 2) THEN 'image/webp'
           WHEN doc_id % 5 = 3 THEN 'audio/flac'
           ELSE 'video/mp4' END AS mime,
      CASE WHEN doc_id % 17 = 0 OR doc_id % 5 = 3 THEN NULL
           ELSE CAST(16 + doc_id % 300 AS INT) END AS width,
      CASE WHEN doc_id % 17 = 0 OR doc_id % 5 = 3 THEN NULL
           ELSE CAST(16 + (doc_id // 7) % 300 AS INT) END AS height,
      CASE WHEN doc_id % 17 = 0 THEN NULL
           WHEN doc_id % 5 IN (1, 2) AND doc_id % 2 = 1 THEN 4
           WHEN doc_id % 5 IN (0, 1, 2) THEN 3
           WHEN doc_id % 5 = 3 THEN CAST(1 + doc_id % 2 AS INT)
           ELSE 3 END AS channels,
      CASE WHEN doc_id % 17 = 0 OR doc_id % 5 <> 3 THEN NULL
           ELSE CAST(8000 * (1 + doc_id % 4) AS INT) END AS sample_rate,
      doc_id % 17 <> 0 AS ok
    FROM documents
"""


def _charset_pinned_oracle() -> str:
    """Pinned-constant oracle for the charset-aware decode tier: the
    expected (encoding, source, text-after-wet_extract) per fixture
    class, computed driver-side through the same decode + strip path
    (the codec-fixture pattern); the headless %11 plant degrades to
    default-UTF-8 with NULL wet text."""
    import re as _re

    from ..sources import warc as warcmod

    rows = {}
    for cls in range(8):
        # a doc_id of this class that is NOT %11 (verified below)
        did = next(d for d in (cls, cls + 8, cls + 16) if d % 11)
        assert did % 11 != 0 and did % 8 == cls
        text, enc, src = warcmod.decode_payload(
            warcmod.build_charset_http_blob(did)
        )
        body = text.split("\r\n\r\n", 1)[1]
        stripped = _re.sub(r"\s+", " ", _re.sub(r"<[^>]*>", " ", body)).strip()
        rows[cls] = (enc, src, stripped.replace("'", "''"))
    enc_c = " ".join(
        "WHEN doc_id %% 8 = %d THEN '%s'" % (c, v[0]) for c, v in rows.items()
    )
    src_c = " ".join(
        "WHEN doc_id %% 8 = %d THEN '%s'" % (c, v[1]) for c, v in rows.items()
    )
    txt_c = " ".join(
        "WHEN doc_id %% 8 = %d THEN '%s'" % (c, v[2]) for c, v in rows.items()
    )
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CASE WHEN headless THEN 'utf-8' ELSE (CASE {enc_c} END)
            END AS encoding,
          CASE WHEN headless THEN 'default' ELSE (CASE {src_c} END)
            END AS encoding_source,
          CAST(CASE WHEN headless THEN NULL ELSE 200 END AS INTEGER)
            AS status,
          CASE WHEN headless THEN NULL ELSE (CASE {txt_c} END) END AS text
        FROM (SELECT doc_id, doc_id % 11 = 0 AS headless FROM documents)
    """


def charset_decode_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset-aware WARC/HTTP payload decode (sources/warc.py
    ``decode_warc_payload_text``: BOM > HTTP Content-Type charset >
    HTML meta prescan > UTF-8 default, WHATWG alias normalization,
    head decoded latin-1 / body with the sniffed codec) composed with
    ``wet_extract`` — latin-1, Shift-JIS, EUC-JP, windows-1252 and
    UTF-16 fixtures must round-trip to EXACT text where a blind
    ``CAST(payload AS STRING)`` produces U+FFFD mojibake.  The
    ``encoding``/``encoding_source`` columns are surfaced so gates
    can filter on them; the %%11 headless plant degrades cleanly."""
    from ..operators import web
    from ..sources import warc as warcmod

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    dec = warcmod.decode_warc_payload_text(
        warcmod.attach_charset_http_blob(docs), id_col="id"
    )
    # the wet_extract projection inlined NEXT TO the encoding columns
    # (wet_extract itself projects its four columns only; a join back
    # would re-run the decode UDF and shuffle — one map-side select
    # keeps the whole check scan-speed)
    p = F.col("payload_text")
    status = web.http_status(p)
    ctype = web.http_header(p, "content-type")
    is_html = (
        (status >= 200) & (status < 300)
        & F.lower(F.coalesce(ctype, F.lit(""))).startswith("text/html")
    )
    return dec.select(
        F.col("id").alias("doc_id"),
        "encoding",
        "encoding_source",
        status.alias("status"),
        F.when(is_html, web.strip_html(web.http_body(p))).alias("text"),
    )


QUERIES["charset_decode_check"] = charset_decode_check
ORACLES["charset_decode_check"] = _charset_pinned_oracle()


def _video_frame_pinned_oracle() -> str:
    """Pinned-constant oracle for the MJPEG-in-AVI frame-hash tier:
    per (video class, frame index) hash pairs computed driver-side
    through the real AVI walk + JPEG decode.  Constants are identical
    for the baseline and progressive frame wrappers (same quantized
    coefficients), so the oracle needs no wrapper key — which IS the
    re-encode-merge claim under test."""
    rows = {}
    nf_case = []
    for cls in range(6):
        # a doc_id of this class that is neither the %17 truncation
        # plant nor the progressive wrapper (constants are identical
        # for both wrappers anyway — asserted in pytest)
        did = next(
            d for d in (cls, cls + 12, cls + 24)
            if d % 17 != 0 and (d // 6) % 2 == 0
        )
        frames = multimodal.avi_mjpeg_frames(multimodal.build_avi_blob(did))
        nf = len(frames)
        nf_case.append("WHEN %d THEN %d" % (cls, nf))
        for k, fb in enumerate(frames):
            px = multimodal.jpeg_decode_pixels(fb)
            rows[(cls, k)] = (
                px.shape[1], px.shape[0],
                format(multimodal.image_ahash(px), "016x"),
                format(multimodal.image_dhash(px), "016x"),
            )
    ah = " ".join(
        "WHEN cls = %d AND frame_idx = %d THEN '%s'" % (c, k, v[2])
        for (c, k), v in rows.items()
    )
    dh = " ".join(
        "WHEN cls = %d AND frame_idx = %d THEN '%s'" % (c, k, v[3])
        for (c, k), v in rows.items()
    )
    nfc = " ".join(nf_case)
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS cls,
                 doc_id % 17 = 0 AS bad
          FROM documents),
        okf AS (
          SELECT doc_id, cls, CASE cls {nfc} END AS nf
          FROM base WHERE NOT bad),
        expanded AS (
          SELECT doc_id, cls, nf,
                 CAST(unnest(generate_series(0, nf - 1)) AS INTEGER)
                   AS frame_idx
          FROM okf)
        SELECT CAST(doc_id AS BIGINT) AS id, frame_idx,
               CAST(nf AS INTEGER) AS n_frames,
               CAST(18 AS INTEGER) AS width, CAST(16 AS INTEGER) AS height,
               CASE {ah} END AS ahash,
               CASE {dh} END AS dhash,
               TRUE AS ok
        FROM expanded
        UNION ALL
        SELECT CAST(doc_id AS BIGINT), NULL, NULL,
               CAST(0 AS INTEGER), CAST(0 AS INTEGER), NULL, NULL, FALSE
        FROM base WHERE bad
    """


def video_frame_hash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL MJPEG-in-AVI video decode (operators/multimodal.py
    ``avi_mjpeg_frames`` RIFF walk + ``jpeg_decode_pixels`` per frame,
    via ``video_frame_hashes``): even-stride frame sampling and
    per-frame perceptual hashes, row-expanding.  Fixture videos carry
    2-4 md5-gradient frames; ``(doc_id // 6) %% 2`` re-encodes every
    frame progressive — SAME pinned hashes either way (the
    re-encode-merge contract); ``%% 17`` truncates mid-movi
    (ok=false).  First oracle-exact VIDEO query — the frame-sample
    tier stops being rows-only."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.video_frame_hashes(multimodal.attach_avi_blob(docs))


QUERIES["video_frame_hash_check"] = video_frame_hash_check
ORACLES["video_frame_hash_check"] = _video_frame_pinned_oracle()


def video_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate VIDEO detection (operators/multimodal.py
    ``video_near_dup``): first-sampled-frame dHash signature through
    the shared ``_hash_cluster`` core (exact collapse → capped bands +
    aHash probe → Catalyst Hamming → components).  Baseline and
    progressive re-encodes of each video class land on the identical
    signature and merge in the exact-collapse stage; the six classes
    sit ≥ 29 dHash bits apart (pinned in pytest), so clusters are
    exactly the classes — which the oracle states arithmetically."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = multimodal.video_near_dup(multimodal.attach_avi_blob(docs))
    return clusters.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members")
    )


QUERIES["video_near_dup_clusters"] = video_near_dup_clusters
ORACLES["video_near_dup_clusters"] = """
    SELECT CAST(min(doc_id) AS BIGINT) AS cluster,
           count(*) AS n_members
    FROM documents
    WHERE doc_id % 17 <> 0
    GROUP BY doc_id % 6
"""


#: abbreviation-laden prefixes planted in-plan by doc_id % 5 — the
#: documents fixture text contains no abbreviations, so without these
#: the masked and unmasked tiers would be trivially identical and the
#: oracle would never exercise the mask
_ABBREV_PREFIXES = (
    "Dr. Smith arrived early today. ",
    "Mr. and Mrs. Jones met Prof. Lee. ",
    "See fig. 4 in vol. 2 at pp. 7 here. ",
    "Costs rose approx. ten units vs. last year, etc. ",
    "The Univ. team from dept. no. 5 moved to St. James. ",
)


def sentence_stats_abbrev_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Abbreviation-aware sentence stats (operators/text.py
    ``sentence_stats(abbrev_aware=True)``): the bounded
    ``SENTENCE_ABBREVIATIONS`` set's trailing periods are masked to a
    non-terminal sentinel before segmentation, so "Dr. Smith
    arrived." is one sentence — the deterministic tier between the
    raw terminal-run split and model-based splitters.  Every doc gets
    an abbreviation-laden prefix planted in-plan (by doc_id %% 5, the
    oracle replays it) because the fixture text has none — the naive
    splitter over-counts every one of these prefixes, so exactness
    here PROVES the mask fired.  Still one map-side projection;
    pattern and set are generated from the same tuple (single source
    of truth)."""
    docs = load_table(spark, sf_dir, "documents")
    planted = docs.select(
        "doc_id",
        F.concat(
            F.element_at(
                F.array(*[F.lit(p) for p in _ABBREV_PREFIXES]),
                (F.col("doc_id") % 5).cast("int") + 1,
            ),
            F.col("text"),
        ).alias("text"),
    )
    return text.sentence_stats(planted, abbrev_aware=True)


QUERIES["sentence_stats_abbrev_docs"] = sentence_stats_abbrev_docs

ORACLES["sentence_stats_abbrev_docs"] = """
    WITH planted AS (
      SELECT doc_id,
             (CASE CAST(doc_id % 5 AS INTEGER)
                WHEN 0 THEN '{p0}' WHEN 1 THEN '{p1}' WHEN 2 THEN '{p2}'
                WHEN 3 THEN '{p3}' ELSE '{p4}' END) || text AS text
      FROM documents),
    masked AS (
      SELECT doc_id,
             regexp_replace(text, '{abbr_pat}',
                            '\\1{sentinel}', 'g') AS text
      FROM planted),
    s AS (
      SELECT doc_id,
             regexp_extract_all(text, '[^.!?]+[.!?]+') AS sents,
             reverse(regexp_extract(reverse(text), '^[^.!?]*'))
               AS trailer
      FROM masked),
    a AS (
      SELECT doc_id, coalesce(len(sents), 0) AS n_term,
             CASE WHEN length(trim(trailer)) > 0
                  THEN list_append(sents, trailer) ELSE sents END AS alls
      FROM s),
    w AS (
      SELECT doc_id, n_term, coalesce(len(alls), 0) AS n,
             list_transform(
               alls,
               x -> len(regexp_extract_all(x, '{nonws}+'))) AS wc
      FROM a)
    SELECT doc_id,
           CAST(n AS BIGINT) AS n_sentences,
           CAST(n_term AS BIGINT) AS n_terminated,
           CAST(coalesce(list_aggregate(wc, 'sum'), 0) AS BIGINT)
             AS total_words,
           CASE WHEN n > 0 THEN
             CAST(coalesce(list_aggregate(wc, 'sum'), 0) // n AS BIGINT)
           END AS mean_sentence_words,
           CASE WHEN n > 0 THEN
             CAST(list_aggregate(wc, 'max') AS BIGINT)
           END AS max_sentence_words
    FROM w
""".replace("{nonws}", text.PORTABLE_NONWS).replace(
    "{abbr_pat}", text.ABBREV_PERIOD_RE
).replace("{sentinel}", text._ABBR_SENTINEL).replace(
    "{p0}", _ABBREV_PREFIXES[0]
).replace("{p1}", _ABBREV_PREFIXES[1]).replace(
    "{p2}", _ABBREV_PREFIXES[2]
).replace("{p3}", _ABBREV_PREFIXES[3]).replace(
    "{p4}", _ABBREV_PREFIXES[4]
)


def video_aligned_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim-tolerant video near-dup (operators/multimodal.py
    ``video_near_dup_aligned``): videos cluster on ≥ 2 SHARED sampled
    frame hashes, so the head-trimmed variant — whose different first
    frame the signature tier (``video_near_dup``) misses BY DESIGN —
    merges with its source and its progressive re-encode.  Fixture
    classes own disjoint 4-frame ranges (variants share ≥ 3 frames,
    classes share none, frame universe ≥ 22 dHash bits apart), so
    clusters are exactly the base classes — stated arithmetically by
    the oracle.  Exact-collapse on the frame-hash-set signature first;
    capped per-hash buckets bound the pair join."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = multimodal.video_near_dup_aligned(
        multimodal.attach_avi_trim_blob(docs)
    )
    return clusters.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members")
    )


QUERIES["video_aligned_dedup_clusters"] = video_aligned_dedup_clusters
ORACLES["video_aligned_dedup_clusters"] = """
    SELECT CAST(min(doc_id) AS BIGINT) AS cluster,
           count(*) AS n_members
    FROM documents
    WHERE doc_id % 17 <> 0
    GROUP BY doc_id % 4
"""


def _mp4_sample_pinned_oracle() -> str:
    """Pinned-constant oracle for the codec-free MP4 sample-hash tier:
    per (class, variant, sample index) the md5 of the exact encoded
    sample bytes the stsz/stsc/stco walk must return, computed
    driver-side through ``mp4_sample_ranges`` itself over the muxed
    fixture — a wrong chunk-map resolution or off-by-one in the
    offset arithmetic breaks the hash.  Variants 0 (chunk-per-sample)
    and 2 (single-chunk re-mux) must pin IDENTICAL hashes — which IS
    the re-mux-merge claim under test; variant 1 is the head trim."""
    import hashlib as _hl

    rows = {}
    n_case = []
    for cls in range(4):
        for variant in range(3):
            did = next(
                d for d in range(48)
                if d % 4 == cls and (d // 4) % 3 == variant and d % 17
            )
            blob = multimodal.build_mp4_blob(did)
            ranges = multimodal.mp4_sample_ranges(blob)
            n_case.append(
                "WHEN cls = %d AND var = %d THEN %d"
                % (cls, variant, len(ranges))
            )
            for k, (off, sz) in enumerate(ranges):
                rows[(cls, variant, k)] = _hl.md5(
                    blob[off:off + sz]
                ).hexdigest()
    hc = " ".join(
        "WHEN cls = %d AND var = %d AND sample_idx = %d THEN '%s'"
        % (c, v, k, h)
        for (c, v, k), h in rows.items()
    )
    nc = " ".join(n_case)
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS cls,
                 CAST((doc_id // 4) % 3 AS INTEGER) AS var,
                 doc_id % 17 = 0 AS bad
          FROM documents),
        okf AS (
          SELECT doc_id, cls, var, CASE {nc} END AS ns
          FROM base WHERE NOT bad),
        expanded AS (
          SELECT doc_id, cls, var, ns,
                 CAST(unnest(generate_series(0, ns - 1)) AS INTEGER)
                   AS sample_idx
          FROM okf)
        SELECT CAST(doc_id AS BIGINT) AS id, sample_idx,
               CAST(ns AS INTEGER) AS n_samples,
               CASE {hc} END AS sample_hash,
               TRUE AS ok
        FROM expanded
        UNION ALL
        SELECT CAST(doc_id AS BIGINT), NULL, NULL, NULL, FALSE
        FROM base WHERE bad
    """


def mp4_sample_hash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free MP4 sample-table walk (operators/multimodal.py
    ``mp4_sample_ranges`` → ``mp4_sample_hashes``): moov/trak/mdia/
    minf/stbl parse, stsc chunk-map resolution, stsz sizes, stco
    offsets, encoded-sample md5 — the byte tier that reaches the
    dominant H.264/VP9/AV1-in-MP4 mass without decoding the codec.
    Fixture: 4 sample classes × (full / head-trim / single-chunk
    re-mux) variants; %% 17 truncates after mdat so the table is
    gone (ok=false).  Map-side, no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.mp4_sample_hashes(multimodal.attach_mp4_blob(docs))


QUERIES["mp4_sample_hash_check"] = mp4_sample_hash_check
ORACLES["mp4_sample_hash_check"] = _mp4_sample_pinned_oracle()


def mp4_byte_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim-tolerant MP4 byte-hash dedup (operators/multimodal.py
    ``mp4_byte_dedup``): videos cluster on ≥ 2 shared encoded-sample
    hashes via the shared-set clustering core, so the single-chunk
    re-mux (identical hash set — collapses in the signature stage)
    and the head-trimmed copy (3 of 4 samples shared) merge with the
    full video while the 4 sample classes stay apart — stated
    arithmetically by the oracle, exactly like the AVI alignment
    tier."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = multimodal.mp4_byte_dedup(multimodal.attach_mp4_blob(docs))
    return clusters.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members")
    )


QUERIES["mp4_byte_dedup_clusters"] = mp4_byte_dedup_clusters
ORACLES["mp4_byte_dedup_clusters"] = """
    SELECT CAST(min(doc_id) AS BIGINT) AS cluster,
           count(*) AS n_members
    FROM documents
    WHERE doc_id % 17 <> 0
    GROUP BY doc_id % 4
"""


def _webm_sample_pinned_oracle() -> str:
    """Pinned-constant oracle for the EBML/WebM sample walk: per
    (class, container variant, sample index) the md5 of the exact
    encoded frame bytes the Segment→Cluster→SimpleBlock walk must
    return, computed driver-side through ``media_sample_ranges`` over
    the muxed fixture.  Variants 0 (MP4) and 1 (the SAME samples
    re-muxed WebM) must pin IDENTICAL hashes — encoded frames are
    container-independent bytes, the cross-container-merge claim."""
    import hashlib as _hl

    rows = {}
    n_case = []
    for cls in range(4):
        for variant in range(7):
            did = next(
                d for d in range(256)
                if d % 4 == cls and (d // 4) % 7 == variant and d % 17
            )
            blob = multimodal.build_media_mux_blob(did)
            ranges = multimodal.media_sample_ranges(blob)
            n_case.append(
                "WHEN cls = %d AND var = %d THEN %d"
                % (cls, variant, len(ranges))
            )
            for k, (off, sz) in enumerate(ranges):
                rows[(cls, variant, k)] = _hl.md5(
                    blob[off:off + sz]
                ).hexdigest()
    for cls in range(4):
        for k in range(4):
            # MP4 == WebM re-mux == fMP4 re-package == every lacing,
            # hash for hash
            for var in (1, 3, 4, 5, 6):
                assert rows[(cls, 0, k)] == rows[(cls, var, k)], \
                    (cls, var, k)
    # the %17 plant must be ok=false for EVERY variant: the classic
    # layout guarantees it structurally (moov after mdat), the
    # fragmented and laced ones empirically (the 2/3 cut lands inside
    # an mdat/cluster, invalidating trailing ranges) — assert it so a
    # fixture-size change can never silently flip the bad branch
    for var in range(7):
        did = next(
            d for d in range(0, 100000, 17)
            if (d // 4) % 7 == var
        )
        assert multimodal.media_sample_ranges(
            multimodal.build_media_mux_blob(did)
        ) is None, (did, var)
    hc = " ".join(
        "WHEN cls = %d AND var = %d AND sample_idx = %d THEN '%s'"
        % (c, v, k, h)
        for (c, v, k), h in rows.items()
    )
    nc = " ".join(n_case)
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS cls,
                 CAST((doc_id // 4) % 7 AS INTEGER) AS var,
                 doc_id % 17 = 0 AS bad
          FROM documents),
        okf AS (
          SELECT doc_id, cls, var, CASE {nc} END AS ns
          FROM base WHERE NOT bad),
        expanded AS (
          SELECT doc_id, cls, var, ns,
                 CAST(unnest(generate_series(0, ns - 1)) AS INTEGER)
                   AS sample_idx
          FROM okf)
        SELECT CAST(doc_id AS BIGINT) AS id, sample_idx,
               CAST(ns AS INTEGER) AS n_samples,
               CASE {hc} END AS sample_hash,
               TRUE AS ok
        FROM expanded
        UNION ALL
        SELECT CAST(doc_id AS BIGINT), NULL, NULL, NULL, FALSE
        FROM base WHERE bad
    """


def webm_sample_hash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codec-free WebM/Matroska sample walk (operators/multimodal.py
    ``webm_sample_ranges``: EBML VINT parse, Segment → Cluster →
    SimpleBlock/BlockGroup, with Xiph / EBML / fixed LACING expanded
    per-frame) through the dispatching ``mp4_sample_hashes`` tier,
    plus the FRAGMENTED-MP4 walk (moof → traf → tfhd/trun, the
    DASH/CMAF layout streamed video ships).  Fixture: 4 sample
    classes × (MP4 / WebM re-mux / WebM head-trim / fMP4 re-package /
    Xiph-laced / EBML-laced / fixed-laced WebM) variants — all
    non-trim variants of a class must hash IDENTICALLY (encoded
    frames are container-, packaging- and lacing-independent);
    %% 17 truncates (ok=false).  Map-side, no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.mp4_sample_hashes(
        multimodal.attach_media_mux_blob(docs)
    )


QUERIES["webm_sample_hash_check"] = webm_sample_hash_check
ORACLES["webm_sample_hash_check"] = _webm_sample_pinned_oracle()


def cross_container_video_dedup_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-container video byte dedup (``mp4_byte_dedup`` over the
    dispatching walk): an MP4 and its WebM re-mux carry byte-identical
    encoded frames, so they collapse in the hash-SET signature stage,
    and the WebM head-trim merges on ≥ 3 shared frame hashes — one
    cluster per sample class across BOTH containers, stated
    arithmetically by the oracle.  The merge that format-siloed dedup
    (hashing whole files, or per-container tiers) structurally
    misses."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = multimodal.mp4_byte_dedup(
        multimodal.attach_media_mux_blob(docs)
    )
    return clusters.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members")
    )


QUERIES["cross_container_video_dedup_check"] = cross_container_video_dedup_check
ORACLES["cross_container_video_dedup_check"] = """
    SELECT CAST(min(doc_id) AS BIGINT) AS cluster,
           count(*) AS n_members
    FROM documents
    WHERE doc_id % 17 <> 0
    GROUP BY doc_id % 4
"""


def _mp3_frame_pinned_oracle() -> str:
    """Pinned-constant oracle for the MPEG audio frame-sync walk: per
    (class, variant, frame index) the md5 of the exact frame bytes
    the sync + version/layer/bitrate arithmetic must return, computed
    driver-side through ``mp3_frame_ranges`` itself over the muxed
    fixture.  Variants 0 (bare) and 2 (ID3v2+ID3v1 re-tag) must pin
    IDENTICAL hashes — the tag-transparency claim; variant 1 is the
    head trim.  The %17 torn-tail plant is asserted None for every
    variant so a fixture-size change can never silently flip it."""
    import hashlib as _hl

    rows = {}
    n_case = []
    for cls in range(4):
        for variant in range(3):
            did = next(
                d for d in range(48)
                if d % 4 == cls and (d // 4) % 3 == variant and d % 17
            )
            blob = multimodal.build_mp3_blob(did)
            ranges = multimodal.mp3_frame_ranges(blob)
            n_case.append(
                "WHEN cls = %d AND var = %d THEN %d"
                % (cls, variant, len(ranges))
            )
            for k, (off, sz) in enumerate(ranges):
                rows[(cls, variant, k)] = _hl.md5(
                    blob[off:off + sz]
                ).hexdigest()
    for cls in range(4):
        for k in range(4):
            # bare == re-tagged, frame for frame (tag transparency)
            assert rows[(cls, 0, k)] == rows[(cls, 2, k)], (cls, k)
    for var in range(3):
        did = next(
            d for d in range(0, 100000, 17) if (d // 4) % 3 == var
        )
        assert multimodal.media_sample_ranges(
            multimodal.build_mp3_blob(did)
        ) is None, (did, var)
    hc = " ".join(
        "WHEN cls = %d AND var = %d AND sample_idx = %d THEN '%s'"
        % (c, v, k, h)
        for (c, v, k), h in rows.items()
    )
    nc = " ".join(n_case)
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS cls,
                 CAST((doc_id // 4) % 3 AS INTEGER) AS var,
                 doc_id % 17 = 0 AS bad
          FROM documents),
        okf AS (
          SELECT doc_id, cls, var, CASE {nc} END AS ns
          FROM base WHERE NOT bad),
        expanded AS (
          SELECT doc_id, cls, var, ns,
                 CAST(unnest(generate_series(0, ns - 1)) AS INTEGER)
                   AS sample_idx
          FROM okf)
        SELECT CAST(doc_id AS BIGINT) AS id, sample_idx,
               CAST(ns AS INTEGER) AS n_samples,
               CASE {hc} END AS sample_hash,
               TRUE AS ok
        FROM expanded
        UNION ALL
        SELECT CAST(doc_id AS BIGINT), NULL, NULL, NULL, FALSE
        FROM base WHERE bad
    """


def mp3_frame_hash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MPEG audio frame-sync walk (operators/multimodal.py
    ``mp3_frame_ranges`` → the dispatching ``mp4_sample_hashes``
    tier): ID3v2 syncsafe skip, ID3v1 trim, 11-bit sync chain with
    the version/layer/bitrate/samplerate frame-length arithmetic —
    the byte tier that reaches the dominant real-crawl audio mass
    without any codec.  Fixture: 4 frame classes (VBR — every frame a
    different bitrate index) × (bare / head-trim / ID3-re-tag)
    variants; %% 17 tears the final frame (ok=false).  Map-side, no
    shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.mp4_sample_hashes(multimodal.attach_mp3_blob(docs))


QUERIES["mp3_frame_hash_check"] = mp3_frame_hash_check
ORACLES["mp3_frame_hash_check"] = _mp3_frame_pinned_oracle()


def _wav_mp3_frame_pinned_oracle() -> str:
    """Pinned-constant oracle for the MP3-in-RIFF tier: per (class,
    variant, frame index) the md5 the dispatching walk must return —
    computed driver-side through ``media_sample_ranges`` over the
    fixture.  Variants 0 (bare MP3) and 1 (the SAME frames inside a
    RIFF fmt-0x55 WAV) must pin IDENTICAL hashes — the re-wrap
    transparency claim the cross-container dedup rests on; variant 2
    is the RIFF head trim.  Both plants asserted None."""
    import hashlib as _hl

    rows = {}
    n_case = []
    for cls in range(4):
        for variant in range(3):
            did = next(
                d for d in range(1000)
                if d % 4 == cls and (d // 4) % 3 == variant
                and d % 17 and d % 13
            )
            blob = multimodal.build_wav_mp3_blob(did)
            ranges = multimodal.media_sample_ranges(blob)
            n_case.append(
                "WHEN cls = %d AND var = %d THEN %d"
                % (cls, variant, len(ranges))
            )
            for k, r in enumerate(ranges):
                rows[(cls, variant, k)] = _hl.md5(
                    multimodal._sample_bytes(blob, r)
                ).hexdigest()
    for cls in range(4):
        for k in range(4):
            assert rows[(cls, 0, k)] == rows[(cls, 1, k)], (cls, k)
        for k in range(3):
            assert rows[(cls, 1, k + 1)] == rows[(cls, 2, k)], (cls, k)
    for did in range(120):
        if did % 17 == 0 or did % 13 == 0:
            assert multimodal.media_sample_ranges(
                multimodal.build_wav_mp3_blob(did)
            ) is None, did
    hc = " ".join(
        "WHEN cls = %d AND var = %d AND sample_idx = %d THEN '%s'"
        % (c, v, k, h)
        for (c, v, k), h in rows.items()
    )
    nc = " ".join(n_case)
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS cls,
                 CAST((doc_id // 4) % 3 AS INTEGER) AS var,
                 doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
          FROM documents),
        okf AS (
          SELECT doc_id, cls, var, CASE {nc} END AS ns
          FROM base WHERE NOT bad),
        expanded AS (
          SELECT doc_id, cls, var, ns,
                 CAST(unnest(generate_series(0, ns - 1)) AS INTEGER)
                   AS sample_idx
          FROM okf)
        SELECT CAST(doc_id AS BIGINT) AS id, sample_idx,
               CAST(ns AS INTEGER) AS n_samples,
               CASE {hc} END AS sample_hash,
               TRUE AS ok
        FROM expanded
        UNION ALL
        SELECT CAST(doc_id AS BIGINT), NULL, NULL, NULL, FALSE
        FROM base WHERE bad
    """


def wav_mp3_frame_hash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MP3-in-RIFF (WAV fmt 0x55 — operators/multimodal.py
    ``_wav_mp3_stream_span`` under the ``media_sample_ranges``
    dispatch): the frame-sync walk runs over the RIFF data chunk with
    blob-relative offsets, so a WAV shell around an MP3 stream hashes
    FRAME-FOR-FRAME identically to the bare stream — closing the last
    WAV codec stub at the scale-sane byte tier (sample decode of
    MPEG audio stays the honest codec stub).  %%17 tears the data
    chunk, %%13 relabels fmt 0x50 / breaks the bare sync — ok=false."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.mp4_sample_hashes(
        multimodal.attach_wav_mp3_blob(docs)
    )


QUERIES["wav_mp3_frame_hash_check"] = wav_mp3_frame_hash_check
ORACLES["wav_mp3_frame_hash_check"] = _wav_mp3_frame_pinned_oracle()


def wav_mp3_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-container byte dedup over the MP3-in-RIFF universe: a
    bare MP3, its RIFF fmt-0x55 re-wrap and the RIFF head-trim all
    carry the same frame-hash signatures, so ``mp4_byte_dedup``
    merges them — one cluster per frame class, stated arithmetically
    by the oracle.  Whole-file hashing misses the moment a tool
    re-containers the audio."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = multimodal.mp4_byte_dedup(
        multimodal.attach_wav_mp3_blob(docs)
    )
    return clusters.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members")
    )


QUERIES["wav_mp3_cross_dedup"] = wav_mp3_cross_dedup
ORACLES["wav_mp3_cross_dedup"] = """
    SELECT CAST(min(doc_id) AS BIGINT) AS cluster,
           count(*) AS n_members
    FROM documents
    WHERE doc_id % 17 <> 0 AND doc_id % 13 <> 0
    GROUP BY doc_id % 4
"""


def mp3_byte_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag- and trim-tolerant MP3 byte dedup (``mp4_byte_dedup`` over
    the dispatching frame walk, i.e. the ``_shared_hash_cluster``
    core): a bare stream and its ID3-re-tagged copy carry identical
    frame hash SETS (collapse in the signature stage) and the
    head-trim shares 3 of 4 frames — one cluster per frame class,
    stated arithmetically by the oracle.  The merge whole-file
    hashing misses the moment a tagger touches the file."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = multimodal.mp4_byte_dedup(multimodal.attach_mp3_blob(docs))
    return clusters.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members")
    )


QUERIES["mp3_byte_dedup"] = mp3_byte_dedup
ORACLES["mp3_byte_dedup"] = """
    SELECT CAST(min(doc_id) AS BIGINT) AS cluster,
           count(*) AS n_members
    FROM documents
    WHERE doc_id % 17 <> 0
    GROUP BY doc_id % 4
"""


def _audio_window_pinned_oracle() -> str:
    """Pinned-constant oracle for the windowed audio envelope tier:
    per (class, variant, window index) the 16-hex hash the PCM decode
    + per-window envelope must produce — computed driver-side through
    ``audio_window_hashes``'s kernel over the fixture blobs.  The
    PCM16 full clip (var 0) and its G.711 µ-law re-encode (var 2)
    must pin IDENTICAL hashes window-for-window — the lossy-re-encode
    invariance claim; var 1 is the head trim (window j+1 at index
    j)."""
    import hashlib as _hl  # noqa: F401  (parallel to siblings)

    rows = {}
    n_case = []
    for cls in range(4):
        for variant in range(3):
            did = next(
                d for d in range(48)
                if d % 4 == cls and (d // 4) % 3 == variant and d % 17
            )
            blob = multimodal.build_wav_align_blob(did)
            dec = multimodal.wav_decode_samples(blob)
            arr = dec[2]
            n_win = arr.shape[0] // 1024
            n_case.append(
                "WHEN cls = %d AND var = %d THEN %d"
                % (cls, variant, n_win)
            )
            for k in range(n_win):
                rows[(cls, variant, k)] = format(
                    multimodal.audio_envelope_hash(
                        arr[k * 1024:(k + 1) * 1024]
                    ),
                    "016x",
                )
    for cls in range(4):
        for k in range(4):
            # PCM16 == µ-law re-encode, window for window
            assert rows[(cls, 0, k)] == rows[(cls, 2, k)], (cls, k)
        for k in range(3):
            # head trim: window j+1 lands at index j, hash unchanged
            assert rows[(cls, 1, k)] == rows[(cls, 0, k + 1)], (cls, k)
    for var in range(3):
        did = next(
            d for d in range(0, 100000, 17) if (d // 4) % 3 == var
        )
        assert multimodal.wav_decode_samples(
            multimodal.build_wav_align_blob(did)
        ) is None, (did, var)
    hc = " ".join(
        "WHEN cls = %d AND var = %d AND win_idx = %d THEN '%s'"
        % (c, v, k, h)
        for (c, v, k), h in rows.items()
    )
    nc = " ".join(n_case)
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS cls,
                 CAST((doc_id // 4) % 3 AS INTEGER) AS var,
                 doc_id % 17 = 0 AS bad
          FROM documents),
        okf AS (
          SELECT doc_id, cls, var, CASE {nc} END AS nw
          FROM base WHERE NOT bad),
        expanded AS (
          SELECT doc_id, cls, var, nw,
                 CAST(unnest(generate_series(0, nw - 1)) AS INTEGER)
                   AS win_idx
          FROM okf)
        SELECT CAST(doc_id AS BIGINT) AS id, win_idx,
               CAST(nw AS INTEGER) AS n_windows,
               CASE {hc} END AS whash,
               TRUE AS ok
        FROM expanded
        UNION ALL
        SELECT CAST(doc_id AS BIGINT), NULL, NULL, NULL, FALSE
        FROM base WHERE bad
    """


def audio_window_hash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio envelope hashing (operators/multimodal.py
    ``audio_window_hashes``): real PCM decode (PCM16 and the G.711
    µ-law compander), one 64-bit energy-envelope hash per 1024-frame
    window.  Fixture: 4 window classes × (full PCM16 / head-trim /
    µ-law re-encode) variants — the re-encode must hash IDENTICALLY
    window-for-window (quantization error ≤ 76 vs ≥ 11k envelope
    margins) and the trim must shift indexes without changing hashes;
    %% 17 truncates mid-data (ok=false).  Map-side, no shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.audio_window_hashes(
        multimodal.attach_wav_align_blob(docs)
    )


QUERIES["audio_window_hash_check"] = audio_window_hash_check
ORACLES["audio_window_hash_check"] = _audio_window_pinned_oracle()


def audio_aligned_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim-tolerant audio near-dup (operators/multimodal.py
    ``audio_near_dup_aligned``, the audio sibling of
    ``video_near_dup_aligned`` on the same ``_shared_hash_cluster``
    core): clips cluster on ≥ 2 shared windowed envelope hashes, so
    the head-trimmed copy — which the whole-clip signature tier
    (``audio_hash_dedup``) misses BY DESIGN — merges with its source
    and the source's lossy G.711 re-encode: one cluster per window
    class, stated arithmetically by the oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = multimodal.audio_near_dup_aligned(
        multimodal.attach_wav_align_blob(docs)
    )
    return clusters.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members")
    )


QUERIES["audio_aligned_dedup_clusters"] = audio_aligned_dedup_clusters
ORACLES["audio_aligned_dedup_clusters"] = """
    SELECT CAST(min(doc_id) AS BIGINT) AS cluster,
           count(*) AS n_members
    FROM documents
    WHERE doc_id % 17 <> 0
    GROUP BY doc_id % 4
"""


def _ogg_sample_pinned_oracle() -> str:
    """Pinned-constant oracle for the Ogg page walk: per (class,
    variant, packet index) the md5 of the exact reassembled packet
    bytes the CRC-verified page walk must return, computed
    driver-side through ``ogg_packet_ranges`` itself over the muxed
    fixture.  Variants 0 (single-page) and 2 (re-paginated spanning
    pages + re-tagged OpusTags) must pin IDENTICAL hashes — the
    pagination/tag-transparency claim; variant 1 is the head trim.
    The %17 torn-tail plant is asserted None for every variant so a
    fixture-size change can never silently flip it."""
    import hashlib as _hl

    rows = {}
    n_case = []
    for cls in range(4):
        for variant in range(3):
            did = next(
                d for d in range(48)
                if d % 4 == cls and (d // 4) % 3 == variant and d % 17
            )
            blob = multimodal.build_ogg_blob(did)
            ranges = multimodal.ogg_packet_ranges(blob)
            n_case.append(
                "WHEN cls = %d AND var = %d THEN %d"
                % (cls, variant, len(ranges))
            )
            for k, r in enumerate(ranges):
                rows[(cls, variant, k)] = _hl.md5(
                    multimodal._sample_bytes(blob, r)
                ).hexdigest()
    for cls in range(4):
        for k in range(4):
            # single-page == re-paginated+re-tagged, packet for packet
            assert rows[(cls, 0, k)] == rows[(cls, 2, k)], (cls, k)
        for k in range(3):
            # head trim: packet j+1 lands at index j, hash unchanged
            assert rows[(cls, 1, k)] == rows[(cls, 0, k + 1)], (cls, k)
    for var in range(3):
        did = next(
            d for d in range(0, 100000, 17) if (d // 4) % 3 == var
        )
        assert multimodal.media_sample_ranges(
            multimodal.build_ogg_blob(did)
        ) is None, (did, var)
    hc = " ".join(
        "WHEN cls = %d AND var = %d AND sample_idx = %d THEN '%s'"
        % (c, v, k, h)
        for (c, v, k), h in rows.items()
    )
    nc = " ".join(n_case)
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS cls,
                 CAST((doc_id // 4) % 3 AS INTEGER) AS var,
                 doc_id % 17 = 0 AS bad
          FROM documents),
        okf AS (
          SELECT doc_id, cls, var, CASE {nc} END AS ns
          FROM base WHERE NOT bad),
        expanded AS (
          SELECT doc_id, cls, var, ns,
                 CAST(unnest(generate_series(0, ns - 1)) AS INTEGER)
                   AS sample_idx
          FROM okf)
        SELECT CAST(doc_id AS BIGINT) AS id, sample_idx,
               CAST(ns AS INTEGER) AS n_samples,
               CASE {hc} END AS sample_hash,
               TRUE AS ok
        FROM expanded
        UNION ALL
        SELECT CAST(doc_id AS BIGINT), NULL, NULL, NULL, FALSE
        FROM base WHERE bad
    """


def ogg_sample_hash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg page walk (operators/multimodal.py ``ogg_packet_ranges`` →
    the dispatching ``mp4_sample_hashes`` tier): RFC 3533 capture
    pattern, PER-PAGE CRC verification (the non-reflected 0x04C11DB7
    polynomial), lacing-table packet reassembly ACROSS pages and
    multiplexed streams, magic-sniffed OpusHead/OpusTags //
    Vorbis/Theora header skip — the other common crawl audio
    container, codec-free.  Fixture: 4 packet classes (sizes
    200/510/350/650 — every lacing shape incl. an exact 255-multiple)
    × (single-page / head-trim / re-paginated-spanning + re-tagged)
    variants; %% 17 tears the final page (ok=false).  Map-side, no
    shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return multimodal.mp4_sample_hashes(multimodal.attach_ogg_blob(docs))


QUERIES["ogg_sample_hash_check"] = ogg_sample_hash_check
ORACLES["ogg_sample_hash_check"] = _ogg_sample_pinned_oracle()


def cross_container_audio_dedup_check(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-container AUDIO byte dedup (``mp4_byte_dedup`` over the
    dispatching walk — the audio analogue of
    ``cross_container_video_dedup_check``): an Ogg stream, its
    re-paginated/re-tagged copy, and its WebM re-mux (Xiph- or
    EBML-laced SimpleBlock) carry byte-identical codec packets —
    identical hash SETS, collapsed in the signature stage — and the
    Ogg head-trim merges on ≥ 3 shared packet hashes: one cluster per
    packet class across BOTH containers, stated arithmetically by the
    oracle.  The merge that container-siloed audio dedup structurally
    misses."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    clusters = multimodal.mp4_byte_dedup(
        multimodal.attach_audio_mux_blob(docs)
    )
    return clusters.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members")
    )


QUERIES["cross_container_audio_dedup_check"] = cross_container_audio_dedup_check
ORACLES["cross_container_audio_dedup_check"] = """
    SELECT CAST(min(doc_id) AS BIGINT) AS cluster,
           count(*) AS n_members
    FROM documents
    WHERE doc_id % 17 <> 0
    GROUP BY doc_id % 4
"""


# Round-13 re-pointing (r12 verdict task): the two remaining
# pre-real-decoder rows-only entries gain exact oracles.
# multimodal_decode_stub replays the media-header arithmetic under the
# image-decoder contract (WAV and truncated blobs are ok=false zeros);
# multimodal_frame_sample pins the md5/length of the exact JPEG frame
# bytes the AVI RIFF walk must return, per (class, wrapper, frame).
ORACLES["multimodal_decode_stub"] = """
    SELECT doc_id AS id,
      CAST(CASE WHEN bad THEN 0 ELSE 16 + doc_id % 300 END AS INT)
        AS width,
      CAST(CASE WHEN bad THEN 0 ELSE 16 + (doc_id // 7) % 300 END AS INT)
        AS height,
      CAST(CASE WHEN bad THEN 0
           WHEN doc_id % 5 = 0 THEN
             CASE doc_id % 4 WHEN 0 THEN 1 WHEN 1 THEN 3
                             WHEN 2 THEN 2 ELSE 4 END
           WHEN doc_id % 5 = 1 THEN 1 + (doc_id % 2) * 2
           WHEN doc_id % 5 = 2 THEN 3
           ELSE CASE doc_id % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
           END AS INT) AS channels,
      NOT bad AS ok
    FROM (SELECT doc_id,
                 doc_id % 17 = 0 OR doc_id % 5 = 4 AS bad
          FROM documents)
"""


def _frame_sample_pinned_oracle() -> str:
    import hashlib as _hl

    rows = {}
    nf_case = []
    for cls in range(6):
        for wrap in range(2):
            did = next(
                d for d in (cls + 6 * wrap, cls + 6 * wrap + 12,
                            cls + 6 * wrap + 24)
                if d % 17 != 0
                and d % 6 == cls and (d // 6) % 2 == wrap
            )
            frames = multimodal.avi_mjpeg_frames(
                multimodal.build_avi_blob(did)
            )
            if wrap == 0:
                nf_case.append("WHEN %d THEN %d" % (cls, len(frames)))
            for k, fb in enumerate(frames):
                rows[(cls, wrap, k)] = (len(fb), _hl.md5(fb).hexdigest())
    nb = " ".join(
        "WHEN cls = %d AND wrap = %d AND frame_idx = %d THEN %d"
        % (c, w, k, v[0]) for (c, w, k), v in rows.items()
    )
    md = " ".join(
        "WHEN cls = %d AND wrap = %d AND frame_idx = %d THEN '%s'"
        % (c, w, k, v[1]) for (c, w, k), v in rows.items()
    )
    nfc = " ".join(nf_case)
    return f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id % 6 AS INTEGER) AS cls,
                 CAST((doc_id // 6) % 2 AS INTEGER) AS wrap
          FROM documents WHERE doc_id % 17 <> 0),
        okf AS (
          SELECT doc_id, cls, wrap, CASE cls {nfc} END AS nf FROM base),
        expanded AS (
          SELECT doc_id, cls, wrap,
                 CAST(unnest(generate_series(0, nf - 1)) AS INTEGER)
                   AS frame_idx
          FROM okf)
        SELECT CAST(doc_id AS BIGINT) AS doc_id, frame_idx,
               CAST(CASE {nb} END AS BIGINT) AS n_bytes,
               CASE {md} END AS frame_md5
        FROM expanded
    """


ORACLES["multimodal_frame_sample"] = _frame_sample_pinned_oracle()


def image_ingest_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-batch IMAGE dedup's per-slice body (streaming/ingest.py
    ``image_survivors`` — the exact function the foreachBatch sink
    runs), driven as two id-ordered slices with the second screened
    against the first's dHashes, then folded: real pixel decode,
    batch-internal exact collapse, cross-slice anti-join.  Because
    the slice split is an id prefix, first-batch-wins equals the
    global min-id keeper per distinct hash — the 24 PNG fixture
    classes have 24 distinct dHashes (checked at oracle build), so
    the oracle states survivors arithmetically: min ok doc_id per
    class.  The near-dup tier deliberately runs at finalization
    (see image_survivors), mirroring the crawl stack's cap rule."""
    from ..streaming.ingest import image_survivors

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    blobs = multimodal.attach_png_blob(docs)
    empty = spark.createDataFrame([], "fingerprint string")
    s1 = image_survivors(
        blobs.filter(F.col("id") < 250), empty
    ).localCheckpoint(eager=True)
    seen = s1.select(F.col("dhash").alias("fingerprint"))
    s2 = image_survivors(
        blobs.filter(F.col("id") >= 250), seen
    )
    return s1.unionByName(s2).select(
        F.col("id").alias("doc_id"), "dhash"
    )


def _image_ingest_oracle() -> str:
    rows = {}
    for cls in range(24):
        px, pal = multimodal._png_fixture_pixels(cls)
        dec = multimodal.png_decode_pixels(multimodal.png_encode(px, pal))
        rows[cls] = format(multimodal.image_dhash(dec), "016x")
    assert len(set(rows.values())) == 24, "fixture classes must not collide"
    dh = " ".join(
        "WHEN cls = %d THEN '%s'" % (c, v) for c, v in rows.items()
    )
    return f"""
        WITH ok_docs AS (
          SELECT doc_id, CAST(doc_id % 24 AS INTEGER) AS cls
          FROM documents
          WHERE doc_id % 17 <> 0 AND doc_id % 13 <> 0)
        SELECT CAST(min(doc_id) AS BIGINT) AS doc_id,
               (CASE {dh} END) AS dhash
        FROM ok_docs
        GROUP BY cls
    """


QUERIES["image_ingest_check"] = image_ingest_check
ORACLES["image_ingest_check"] = _image_ingest_oracle()


def _image_finalize_oracle() -> str:
    """Arithmetic oracle for the composed streaming-image pipeline:
    survivors are min-ok-doc_id per PNG fixture class (the
    image_ingest_check argument: id-prefix slices make
    first-batch-wins equal global min-id per distinct dHash), and the
    finalization near-dup tier must merge each base class with its
    bottom-rows-perturbed variant (cls and cls+12).  The recall and
    separation preconditions are ASSERTED here through the real
    decode + hash path: every near-dup pair sits within the Hamming
    threshold with its differing bits confined to one LSH band
    (candidate guaranteed), every cross-class pair sits beyond it
    (no false merges) — so clusters are exactly the 12 base-class
    pairs, stated arithmetically."""
    rows = {}
    for cls in range(24):
        px, pal = multimodal._png_fixture_pixels(cls)
        dec = multimodal.png_decode_pixels(multimodal.png_encode(px, pal))
        rows[cls] = multimodal.image_dhash(dec)
    for b in range(12):
        d = bin(rows[b] ^ rows[b + 12]).count("1")
        assert 0 < d <= 6, (b, d)
        # differing bits confined to ONE 16-bit band → LSH candidate
        bands = sum(
            1 for k in range(4)
            if (rows[b] ^ rows[b + 12]) >> (16 * k) & 0xFFFF
        )
        assert bands == 1, (b, bands)
    for a in range(12):
        for c in range(a + 1, 12):
            for xa in (a, a + 12):
                for xc in (c, c + 12):
                    assert bin(rows[xa] ^ rows[xc]).count("1") > 6
    return """
        WITH ok_docs AS (
          SELECT doc_id, CAST(doc_id % 24 AS INTEGER) AS cls
          FROM documents
          WHERE doc_id % 17 <> 0 AND doc_id % 13 <> 0),
        survivors AS (
          SELECT cls, min(doc_id) AS doc_id
          FROM ok_docs GROUP BY cls)
        SELECT CAST(s.doc_id AS BIGINT) AS doc_id,
               CAST(min(t.doc_id) AS BIGINT) AS cluster
        FROM survivors s
        JOIN survivors t ON t.cls % 12 = s.cls % 12
        GROUP BY s.doc_id
    """


def image_ingest_finalize_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED streaming image pipeline, end to end: three
    id-ordered slices through ``image_survivors`` (each screened
    against the dHashes the previous slices accumulated — the exact
    foreachBatch body), survivors unioned, then the finalization
    near-dup tier over the accumulated (id, dhash, ahash) rows via
    ``image_hash_near_dup`` — the crawl_ingest_check pattern applied
    to the multimodal sink, closing the r13 verdict's missing
    composition oracle.  No pixel is re-decoded at finalization: the
    survivors already carry their hashes."""
    from ..streaming.ingest import image_survivors

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    blobs = multimodal.attach_png_blob(docs)
    empty = spark.createDataFrame([], "fingerprint string")
    s1 = image_survivors(
        blobs.filter(F.col("id") < 170), empty
    ).localCheckpoint(eager=True)
    seen1 = s1.select(F.col("dhash").alias("fingerprint"))
    s2 = image_survivors(
        blobs.filter((F.col("id") >= 170) & (F.col("id") < 340)),
        seen1,
    ).localCheckpoint(eager=True)
    seen2 = seen1.unionByName(
        s2.select(F.col("dhash").alias("fingerprint"))
    )
    s3 = image_survivors(
        blobs.filter(F.col("id") >= 340), seen2
    )
    survivors = s1.unionByName(s2).unionByName(s3)
    return multimodal.image_hash_near_dup(
        survivors.select("id", "dhash", "ahash"), probe_ahash=True
    ).select(F.col("id").alias("doc_id"), "cluster")


QUERIES["image_ingest_finalize_check"] = image_ingest_finalize_check
ORACLES["image_ingest_finalize_check"] = _image_finalize_oracle()


def _image_resize_oracle() -> str:
    """Pinned-constant oracle for the resize tier: per PNG fixture
    class the md5 of the 8×8 bilinear thumbnail's PNG bytes, computed
    driver-side through the very decode → resize → encode path under
    test (a one-ULP interpolation difference or a wrong half-pixel
    center breaks the hash).  %17 truncation and %13 relabel plants
    pin ok=false rows."""
    import hashlib as _hl

    rows = {}
    for cls in range(24):
        did = next(
            d for d in (cls, cls + 24, cls + 48)
            if d % 17 and d % 13
        )
        blob = multimodal.build_png_blob(did)
        px = multimodal.decode_image_pixels(blob)
        small = multimodal.image_resize_pixels(px, 8, 8, "bilinear")
        rows[cls] = (
            small.shape[2],
            _hl.md5(multimodal.png_encode(small)).hexdigest(),
        )
    ch = " ".join(
        "WHEN cls = %d THEN %d" % (c, v[0]) for c, v in rows.items()
    )
    md = " ".join(
        "WHEN cls = %d THEN '%s'" % (c, v[1]) for c, v in rows.items()
    )
    return f"""
        SELECT CAST(doc_id AS BIGINT) AS doc_id,
          CAST(CASE WHEN bad THEN 0 ELSE 8 END AS INTEGER) AS width,
          CAST(CASE WHEN bad THEN 0 ELSE 8 END AS INTEGER) AS height,
          CAST(CASE WHEN bad THEN 0 ELSE (CASE {ch} END)
               END AS INTEGER) AS channels,
          CASE WHEN bad THEN NULL ELSE (CASE {md} END) END AS thumb_md5,
          NOT bad AS ok
        FROM (SELECT doc_id, CAST(doc_id % 24 AS INTEGER) AS cls,
                     doc_id % 17 = 0 OR doc_id % 13 = 0 AS bad
              FROM documents)
    """


def image_resize_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real decode → resize → lossless re-encode
    (operators/multimodal.py ``resize_images`` over
    ``image_resize_pixels``): the thumbnail/normalization step of a
    multimodal training pipeline, as one map-side Arrow pass.  The
    check resizes every PNG fixture to an 8×8 bilinear thumbnail and
    md5s the re-encoded bytes against per-class constants computed
    through the same kernel; truncated (%%17) and relabeled (%%13)
    plants are ok=false rows.  Zero shuffles."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = multimodal.resize_images(
        multimodal.attach_png_blob(docs), 8, 8,
        mode="bilinear",
    )
    return out.select(
        F.col("id").alias("doc_id"),
        "width", "height", "channels",
        F.md5(F.col("content")).alias("thumb_md5"),
        "ok",
    )


QUERIES["image_resize_check"] = image_resize_check
ORACLES["image_resize_check"] = _image_resize_oracle()