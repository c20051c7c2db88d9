"""Semantic tests for the LLM-pipeline operators: planted duplicates
for dedup/LSH, planted nearest neighbors for similarity, known strings
for text analysis, deterministic stubs for multimodal, and a real
Structured Streaming run checked against its batch twin."""

import pytest
from pyspark.sql import functions as F

from dwc_dataframe_validator_spark.functions import expressions as E
from dwc_dataframe_validator_spark.operators import (
    dedup,
    integrity,
    multimodal,
    similarity,
    text,
)
from dwc_dataframe_validator_spark.streaming.validation import (
    streaming_dedup,
    windowed_check_counts,
)

BASE = (
    "the quick brown fox jumps over the lazy dog and runs far away today"
)
NEAR = (
    "the quick brown fox jumps over the lazy dog and runs far away tonight"
)
OTHER = "completely different content about databases and distributed systems"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, NEAR),          # near-duplicate of 1
        (3, OTHER),
        (4, "short text"),
        (5, BASE),          # exact duplicate of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


# --- dedup -----------------------------------------------------------------

def test_exact_dedup_keepers(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 5), (3, "b", 7)], ["id", "k", "ts"]
    )
    kept = dedup.exact_dedup_keepers(df, ["k"], ["ts", "id"])
    assert sorted(r["id"] for r in kept.collect()) == [2, 3]
    groups = dedup.duplicate_groups(df, ["k"]).collect()
    assert len(groups) == 1 and groups[0]["k"] == "a" and groups[0]["cnt"] == 2


def test_exact_dedup_keepers_by_priority(spark):
    """Policy keeper: source priority beats score, score (DESC, NULLS
    LAST) beats id, unlisted sources rank after every listed one, and
    an empty policy raises."""
    import pytest

    rows = [
        # group "a": crawl doc is longest, but curated source wins
        (1, "a", "crawl", 99),
        (2, "a", "curated", 10),
        # group "b": same source -> higher score wins
        (3, "b", "crawl", 5),
        (4, "b", "crawl", 8),
        # group "c": NULL score loses to scored; id breaks exact ties
        (5, "c", "crawl", None),
        (6, "c", "crawl", 3),
        (7, "c", "crawl", 3),
        # group "d": only an unlisted source -> still exactly one kept
        (8, "d", "mystery", 1),
        (9, "d", "mystery", 2),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, k string, source string, score long"
    )
    kept = dedup.exact_dedup_keepers_by_priority(
        df, ["k"], "source", {"curated": 0, "crawl": 1}, score_col="score"
    )
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 4, 6, 9]

    # without a score column: priority then id
    kept2 = dedup.exact_dedup_keepers_by_priority(
        df, ["k"], "source", {"curated": 0, "crawl": 1}
    )
    assert sorted(r["doc_id"] for r in kept2.collect()) == [2, 3, 5, 8]

    with pytest.raises(ValueError, match="priority"):
        dedup.exact_dedup_keepers_by_priority(df, ["k"], "source", {})


def test_minhash_lsh_finds_planted_near_dup(docs):
    pairs = {
        (r["ida"], r["idb"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 5) in pairs and pairs[(1, 5)] == 1.0   # exact dup
    assert (1, 2) in pairs and pairs[(1, 2)] >= 0.5   # near dup
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_near_dup_small_hamming(docs):
    sh = {r["doc_id"]: r["simhash"] for r in dedup.simhash64(docs).collect()}
    assert sh[1] == sh[5]
    ham_near = bin((sh[1] ^ sh[2]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((sh[1] ^ sh[3]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far
    assert ham_near <= 8
    # exact dup always collides; the near dup needs bands > hamming
    # distance (pigeonhole), so use 16 bands of 4 bits for recall
    band_pairs = {
        (r["ida"], r["idb"])
        for r in dedup.simhash_band_pairs(dedup.simhash64(docs)).collect()
    }
    assert (1, 5) in band_pairs
    fine_pairs = {
        (r["ida"], r["idb"])
        for r in dedup.simhash_band_pairs(
            dedup.simhash64(docs), band_bits=4
        ).collect()
    }
    assert (1, 2) in fine_pairs


def test_ngram_jaccard_pairs(docs):
    got = {
        (r["ida"], r["idb"]): r["jaccard"]
        for r in text.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got[(1, 5)] == 1.0
    assert (1, 2) in got
    top = {
        r["doc_id"]: r["neighbor_id"]
        for r in text.jaccard_top_neighbor(docs).collect()
    }
    assert top[1] == 5  # exact dup wins over near dup (jaccard 1.0)


def test_simhash_band_cap_bounds_degenerate_bucket(spark):
    # 40 documents with identical text -> identical simhash -> every
    # band bucket holds all 40 docs.  Uncapped, the band self-join fans
    # out quadratically; the cap drops those buckets entirely.
    df = spark.createDataFrame(
        [(i, "same text everywhere for everyone") for i in range(40)],
        ["doc_id", "text"],
    )
    sh = dedup.simhash64(df)
    uncapped = dedup.simhash_band_pairs(sh, max_bucket_size=None).count()
    assert uncapped == 40 * 39 // 2
    capped = dedup.simhash_band_pairs(sh, max_bucket_size=10).count()
    assert capped == 0


def test_ngram_shingle_df_cap_bounds_common_shingle(spark):
    # every doc shares the hyper-common bigram "of the" but is otherwise
    # unique: uncapped, that one shingle alone pairs all docs (quadratic
    # in corpus size); the df cap removes it before pairing.
    # each doc also shares a RARE bigram with exactly one partner
    # (pair 2i, 2i+1), so the cap must kill only the common shingle
    rows = [
        (i, f"of the pairmark{i // 2} shared{i // 2} solo{i}")
        for i in range(30)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    uncapped = text.ngram_jaccard_pairs(df, threshold=0.0).count()
    assert uncapped == 30 * 29 // 2
    capped = {
        (r["ida"], r["idb"])
        for r in text.ngram_jaccard_pairs(
            df, threshold=0.0, max_shingle_df=5
        ).collect()
    }
    assert capped == {(2 * i, 2 * i + 1) for i in range(15)}
    # the registered-query shape keeps the partner as top neighbor
    top = {
        r["doc_id"]: r["neighbor_id"]
        for r in text.jaccard_top_neighbor(df, max_shingle_df=5).collect()
    }
    assert len(top) == 30 and top[0] == 1 and top[1] == 0


# --- similarity ------------------------------------------------------------

@pytest.fixture(scope="module")
def vectors(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], "a"),
        (1, [0.99, 0.1, 0.0], "a"),   # nearest to 0
        (2, [0.0, 1.0, 0.0], "a"),
        (3, [0.0, 0.0, 1.0], "b"),
        (4, [0.5, 0.5, 0.0], "b"),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    return df.withColumn("embedding", F.col("embedding").cast("array<float>"))


def test_cosine_topk_planted_neighbor(vectors):
    out = similarity.cosine_topk(vectors, vectors.filter("vec_id = 0"), k=2)
    rows = sorted(out.collect(), key=lambda r: r["rank"])
    assert rows[0]["neighbor_id"] == 1
    # float32 storage perturbs the inputs; compare loosely
    assert rows[0]["sim"] == pytest.approx(0.99498743, abs=1e-3)


def test_cosine_topk_arrow_agrees(vectors):
    expr = similarity.cosine_topk(vectors, vectors.filter("vec_id < 2"), k=3)
    arrow = similarity.cosine_topk_arrow(vectors, vectors.filter("vec_id < 2"), k=3)
    e = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in expr.collect()}
    a = {(r["query_id"], r["rank"]): r["neighbor_id"] for r in arrow.collect()}
    assert e == a


def test_embedding_dup_pairs_blocked(vectors):
    out = similarity.embedding_dup_pairs(vectors, threshold=0.9)
    pairs = {(r["ida"], r["idb"]) for r in out.collect()}
    assert pairs == {(0, 1)}  # planted near-identical pair, same cell


def test_ivf_trained_finds_planted_neighbor(spark):
    import math

    # two well-separated clusters; nearest neighbor within each
    rows = []
    for cid, base in [(0, (10.0, 0.0)), (1, (0.0, 10.0))]:
        for i in range(6):
            ang = i * 0.05
            rows.append((cid * 10 + i,
                         [base[0] + math.cos(ang), base[1] + math.sin(ang)]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    out = similarity.ivf_topk_trained(
        df, df.filter("vec_id = 0"), k=1, n_cells=2
    ).collect()
    assert len(out) == 1
    # nearest must come from the same geometric cluster (ids 1..5)
    assert out[0]["neighbor_id"] in {1, 2, 3, 4, 5}


def test_ivf_nprobe_recall_rises(spark):
    import math

    # 4 angular clusters on the unit circle; query vectors sit near the
    # cluster boundaries, so their true nearest neighbors straddle two
    # k-means cells — exactly the case nprobe=1 loses.
    rows = []
    vid = 0
    for c in range(4):
        base = c * (math.pi / 2)
        for i in range(8):
            ang = base + (i - 3.5) * 0.15
            rows.append((vid, [math.cos(ang), math.sin(ang)]))
            vid += 1
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    # queries at the MIDPOINT between adjacent clusters: their top-3
    # necessarily spans two cells, whichever single cell they assign to
    qrows = []
    for c in range(4):
        ang = c * (math.pi / 2) + math.pi / 4
        qrows.append((100 + c, [math.cos(ang), math.sin(ang)]))
    queries = spark.createDataFrame(qrows, ["vec_id", "embedding"]).withColumn(
        "embedding", F.col("embedding").cast("array<float>")
    )
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.cosine_topk(corpus, queries, k=3).collect()
    }

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.ivf_topk_trained(
                corpus, queries, k=3, n_cells=4, nprobe=nprobe
            ).collect()
        }
        return len(got & truth) / len(truth)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4
    assert r2 > r1          # boundary queries need the second cell
    assert r4 == 1.0        # probing every cell IS brute force


def test_ivf_topk_restricted_to_cell(vectors):
    out = similarity.ivf_topk(vectors, vectors.filter("vec_id = 0"), k=5)
    neighbors = {r["neighbor_id"] for r in out.collect()}
    assert neighbors == {1, 2}  # only label 'a' cell, self excluded


# --- text ------------------------------------------------------------------

def test_token_stats_known_string(spark):
    df = spark.createDataFrame([(1, "Hello world 42!"), (2, ""), (3, "   ")],
                               ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in text.token_stats(df).collect()}
    assert rows[1]["n_tokens"] == 3
    # "Hello world 42!" → Hello, world, 4, 2, ! = 5 BPE-ish pieces
    assert rows[1]["n_tokens_bpe"] == 5
    assert rows[1]["n_alpha"] == 10
    assert rows[1]["n_digit"] == 2
    assert rows[1]["n_punct"] == 1
    assert rows[2]["n_tokens"] == 0 and rows[3]["n_tokens"] == 0


def test_quality_and_langid(docs, spark):
    q = {r["doc_id"]: r for r in text.quality_score(docs).collect()}
    assert q[1]["quality_ok"] is True
    assert q[4]["quality_ok"] is False  # too short
    lang = {r["doc_id"]: r["lang_guess"] for r in text.language_id(docs).collect()}
    assert lang[1] == "en"
    de = spark.createDataFrame(
        [(9, "der hund und die katze ist zu haus")], ["doc_id", "text"])
    assert text.language_id(de).collect()[0]["lang_guess"] == "de"


def test_language_id_v2_scripts(spark):
    """r11: script-aware language ID — every classification rule from
    the language_id_v2 docstring on planted text: the single-language
    scripts, the han/kana Japanese rule both ways, Latin fallback to
    the stopword heuristic, mixed-page dominance, and the empty/und
    gates."""
    cases = [
        (1, "数据管理系统的设计与实现", "han", "zh"),  # pure Han → zh
        # Han-DOMINANT but kana present → ja (the rule pure-Chinese
        # text can never trigger)
        (2, "日本語設計実装管理系統の", "han", "ja"),
        (3, "これはひらがなのぶんしょうです", "hiragana", "ja"),
        (4, "テスト データ システム", "katakana", "ja"),
        (5, "한국어 문서입니다", "hangul", "ko"),
        (6, "это тестовый документ", "cyrillic", "ru"),
        (7, "هذا مستند تجريبي", "arabic", "ar"),
        (8, "यह एक परीक्षण है", "devanagari", "hi"),
        (9, "αυτό είναι ένα τεστ", "greek", "el"),
        (10, "זהו מסמך בדיקה", "hebrew", "he"),
        (11, "นี่คือการทดสอบ", "thai", "th"),
        (12, "the cat sat on the mat and the dog is here", "latin", "en"),
        (13, "der hund und die katze ist zu haus", "latin", "de"),
        (14, "xyzzy plugh qwrt", "latin", "und"),  # Latin, no stopwords
        (15, "12345 !!! ---", "und", "und"),       # no letters at all
        (16, "", "und", "und"),
        # mixed page: Latin majority with a katakana minority stays
        # Latin; but a TIE surfaces the non-Latin script (precedence)
        (17, "the data processing system of the corpus テスト", "latin",
         "en"),
        (18, "abc アイウエオカ", "katakana", "ja"),  # 6 v 3: kata wins
        # r12 (ADVICE): NULL text must gate to 'und' FIRST — every
        # count is NULL so each WHEN is skipped, and before the fix
        # control fell into the latin stopword chain whose ELSE is 'es'
        (19, None, "und", "und"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, *_ in cases], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in text.language_id_v2(df).collect()}
    for i, t, want_script, want_lang in cases:
        assert got[i]["script_guess"] == want_script, (i, t, dict(got[i].asDict()))
        assert got[i]["lang_guess"] == want_lang, (i, t, dict(got[i].asDict()))
    # count columns are real letter counts, not just flags
    assert got[1]["n_han"] == 12
    assert got[5]["n_hangul"] == 8
    assert got[17]["n_katakana"] == 3


def test_language_id_v2_null_twin_agreement():
    """r12 (ADVICE): the DuckDB twin must make the same NULL-first
    decision as the Spark side — before the fix BOTH twins said 'es'
    for NULL text, so the oracle could never catch the bug."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE documents AS SELECT * FROM (VALUES"
        " (1::BIGINT, NULL::VARCHAR), (2, 'the cat and the dog is here'))"
        " t(doc_id, text)"
    )
    rows = {
        r[0]: r
        for r in con.execute(text.language_id_v2_sql()).fetchall()
    }
    hdr = [d[0] for d in con.description]
    s_i, l_i = hdr.index("script_guess"), hdr.index("lang_guess")
    assert rows[1][s_i] == "und" and rows[1][l_i] == "und"
    assert rows[2][s_i] == "latin" and rows[2][l_i] == "en"


def test_fingerprint_normalizes(spark):
    df = spark.createDataFrame(
        [(1, "Hello   World"), (2, "hello world"), (3, "other")],
        ["doc_id", "text"])
    fp = {r["doc_id"]: r["fingerprint"] for r in text.fingerprint(df).collect()}
    assert fp[1] == fp[2] != fp[3]


# --- integrity -------------------------------------------------------------

def test_fk_orphans(spark):
    child = spark.createDataFrame([(1, 10), (2, 20), (3, 99)], ["id", "fk"])
    parent = spark.createDataFrame([(10,), (20,)], ["pk"])
    orphans = integrity.fk_orphans(child, parent, "fk", "pk", broadcast_parent=True)
    assert [r["id"] for r in orphans.collect()] == [3]
    cnt = integrity.fk_orphan_count(child, parent, "fk", "pk").collect()[0]
    assert cnt["orphan_count"] == 1


# --- skew ------------------------------------------------------------------

def test_salted_groupby_matches_plain(spark):
    from dwc_dataframe_validator_spark.operators import skew

    df = spark.createDataFrame(
        [(i, "hot" if i % 10 else "cold") for i in range(200)], ["id", "k"]
    )
    salted = {
        r["k"]: r["cnt"]
        for r in skew.salted_groupby_count(df, ["k"], salt_buckets=8).collect()
    }
    plain = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    assert salted == plain


def test_salted_join_matches_plain(spark):
    from dwc_dataframe_validator_spark.operators import skew

    big = spark.createDataFrame(
        [(i, i % 3) for i in range(100)], ["id", "fk"]
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["pk", "v"])
    out = skew.salted_join(big, small, "fk", "pk", salt_buckets=4)
    assert out.count() == 100
    assert out.filter("v = 'a'").count() == big.filter("fk = 0").count()


# --- asof ------------------------------------------------------------------

def test_asof_join(spark):
    from dwc_dataframe_validator_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, "u", 100), (2, "u", 50), (3, "v", 10)], ["lid", "k", "t"]
    )
    right = spark.createDataFrame(
        [(10, "u", 40), (11, "u", 100), (12, "u", 120), (13, "w", 5)],
        ["rid", "k", "t"],
    )
    out = {r["lid"]: r for r in asof_join(left, right, "k", "t").collect()}
    assert out[1]["r_rid"] == 11   # equal ts matches (inclusive)
    assert out[2]["r_rid"] == 10   # latest at-or-before 50
    assert out[3]["r_rid"] is None  # no right rows for key v


def test_asof_join_unorderable_payload_and_tiebreak(spark):
    # the window must never sort on the payload struct: a map-typed
    # right column would fail analysis under the old full-struct orderBy
    from pyspark.sql.types import (
        IntegerType,
        MapType,
        StringType,
        StructField,
        StructType,
    )

    from dwc_dataframe_validator_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, "u", 100)], ["lid", "k", "t"])
    schema = StructType([
        StructField("rid", IntegerType()),
        StructField("k", StringType()),
        StructField("t", IntegerType()),
        StructField("attrs", MapType(StringType(), StringType())),
    ])
    right = spark.createDataFrame(
        [(10, "u", 50, {"a": "x"}), (11, "u", 50, {"b": "y"})], schema
    )
    out = {r["lid"]: r for r in
           asof_join(left, right, "k", "t", tiebreak=["rid"]).collect()}
    assert out[1]["r_rid"] == 11          # highest tiebreak wins the tie
    assert out[1]["r_attrs"] == {"b": "y"}


# --- range join ------------------------------------------------------------

def test_interval_join(spark):
    import datetime

    from dwc_dataframe_validator_spark.operators.rangejoin import interval_join

    t0 = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def ts(mins):
        return t0 + datetime.timedelta(minutes=mins)

    points = spark.createDataFrame(
        [(1, ts(10)), (2, ts(90)), (3, ts(300))], ["pid", "ts"]
    )
    intervals = spark.createDataFrame(
        [(100, ts(0), ts(60)), (101, ts(60), ts(120)), (102, ts(0), ts(120)),
         (103, ts(600), ts(0))],   # malformed: end < start, dropped pre-explode
        ["iid", "lo", "hi"],
    )
    out = interval_join(points, intervals, "ts", "lo", "hi",
                        bucket_width="30 minutes")
    got = sorted((r["pid"], r["iid"]) for r in out.collect())
    # point 1 ∈ [0,60] and [0,120]; point 2 ∈ [60,120] and [0,120];
    # point 3 in none; boundary inclusivity covered by interval 101/2
    assert got == [(1, 100), (1, 102), (2, 101), (2, 102)]


# --- multimodal ------------------------------------------------------------

def test_multimodal_stub_pipeline(docs):
    blobs = multimodal.attach_text_blob(docs)
    meta = {r["id"]: r for r in multimodal.blob_metadata(blobs).collect()}
    assert meta[1]["n_bytes"] == len(BASE.encode())
    decoded = {r["id"]: r for r in multimodal.decode_images(blobs, fake=True).collect()}
    again = {r["id"]: r for r in multimodal.decode_images(blobs, fake=True).collect()}
    assert decoded[1]["ok"] and decoded == again  # deterministic
    frames = multimodal.sample_frames(blobs, fake=True).collect()
    assert len(frames) >= len(decoded)
    assert {f["id"] for f in frames} == set(decoded)


def test_multimodal_decode_backend_guard(spark, docs):
    # the non-fake path is the codec-free pure-byte header parser: a
    # real-world 1x1 PNG decodes, garbage flags
    import base64
    png = base64.b64decode(
        b"iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR4"
        b"nGP4z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg=="
    )
    df = spark.createDataFrame(
        [(1, bytearray(png)), (2, bytearray(b"not an image"))],
        "id long, content binary",
    )
    rows = {r["id"]: r for r in multimodal.decode_images(df).collect()}
    assert rows[1]["ok"] and (rows[1]["width"], rows[1]["height"]) == (1, 1)
    assert not rows[2]["ok"]

    # a parseable WAV is NOT an image: ok=False
    import struct
    fmt_body = struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    wav = (b"RIFF" + struct.pack("<I", 100) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt_body)
    wdf = spark.createDataFrame(
        [(3, bytearray(wav))], "id long, content binary"
    )
    wrows = multimodal.decode_images(wdf).collect()
    assert not wrows[0]["ok"]


def test_parse_media_header_formats_and_adversarial():
    """r9: the codec-free header parser on real-world fixture bytes
    (known 1x1 PNG, minimal GIF89a) and adversarial layouts — JPEG
    whose DHT (FFC4) precedes the SOF, JPEG with no SOF at all, BMP
    with negative (top-down) height, WAV with a junk chunk before
    fmt, truncations, empty, None.  Pure function — no Spark."""
    import base64
    import struct

    from dwc_dataframe_validator_spark.operators.multimodal import (
        parse_media_header,
    )

    # real-world 1x1 PNG (the canonical tiny-PNG base64)
    png = base64.b64decode(
        b"iVBORw0KGgoAAAANSUhEUgAAAAEAAAABCAYAAAAfFcSJAAAADUlEQVR4"
        b"nGP4z8BQDwAEhQGAhKmMIQAAAABJRU5ErkJggg=="
    )
    mime, w, h, ch, sr, ok = parse_media_header(png)
    assert (mime, w, h, ok) == ("image/png", 1, 1, True) and sr is None

    # minimal real GIF89a (1x1, trailer only)
    gif = b"GIF89a" + struct.pack("<HH3B", 1, 1, 0, 0, 0) + b"\x3b"
    assert parse_media_header(gif)[:4] == ("image/gif", 1, 1, 3)

    # JPEG: DHT before SOF0 — C4 must not be mistaken for a SOF marker
    app0 = (b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00"
            + struct.pack(">HH", 72, 72) + b"\x00\x00")
    dht = b"\xff\xc4" + struct.pack(">H", 5) + b"\x00\x01\x02"
    sof = (b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, 31, 47, 3)
           + b"\x01\x11\x00\x02\x11\x00\x03\x11\x00")
    jpeg = b"\xff\xd8" + app0 + dht + sof + b"\xff\xd9"
    assert parse_media_header(jpeg)[:4] == ("image/jpeg", 47, 31, 3)
    # no SOF at all → malformed
    assert parse_media_header(b"\xff\xd8" + app0 + b"\xff\xd9")[5] is False

    # BMP with negative height (top-down DIB) → abs(height)
    dib = struct.pack("<IiiHH6I", 40, 13, -9, 1, 24, 0, 0, 0, 0, 0, 0)
    bmp = b"BM" + struct.pack("<IHHI", 54, 0, 0, 54) + dib
    assert parse_media_header(bmp)[:4] == ("image/bmp", 13, 9, 3)

    # WAV with a junk chunk BEFORE fmt (odd size → word-align skip)
    fmt_body = struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    wav = (b"RIFF" + struct.pack("<I", 100) + b"WAVE"
           + b"JUNK" + struct.pack("<I", 3) + b"abc\x00"
           + b"fmt " + struct.pack("<I", 16) + fmt_body)
    mime, w, h, ch, sr, ok = parse_media_header(wav)
    assert (mime, ch, sr, ok) == ("audio/wav", 2, 44100, True)
    assert w is None and h is None

    # truncations / garbage / empty / None — all not-ok, no exception
    for bad in (png[:6], gif[:8], jpeg[:3], bmp[:20], wav[:10],
                b"", None, b"not media at all"):
        assert parse_media_header(bad)[5] is False


def test_media_blob_builder_roundtrip(spark):
    """r9: end-to-end Spark pipeline — deterministic REAL media bytes
    (attach_media_blob) through decode_media_headers recovers exactly
    the planted parameters for every format, and truncated blobs
    (id % 17 == 0) come back all-null/ok=False."""
    from dwc_dataframe_validator_spark.operators.multimodal import (
        attach_media_blob,
        decode_media_headers,
    )

    ids = spark.range(0, 200).selectExpr("id AS doc_id")
    out = decode_media_headers(attach_media_blob(ids))
    rows = {r["id"]: r for r in out.collect()}
    assert len(rows) == 200
    for i, r in rows.items():
        if i % 17 == 0:
            assert not r["ok"] and r["mime"] is None and r["width"] is None
            continue
        assert r["ok"]
        fmt = i % 5
        if fmt == 4:
            assert r["mime"] == "audio/wav"
            assert r["width"] is None and r["height"] is None
            assert r["channels"] == 1 + i % 2
            assert r["sample_rate"] == 8000 * (1 + i % 4)
        else:
            assert r["width"] == 16 + i % 300
            assert r["height"] == 16 + (i // 7) % 300
            assert r["sample_rate"] is None
    # PNG channels follow the color-type cycle; BMP the bitcount cycle
    assert rows[5]["channels"] == 3    # id 5: png, color type 2 → RGB
    assert rows[3]["channels"] == 1    # id 3: bmp, bitcount 8


def test_multimodal_decode_null_payload(docs):
    # null blob -> (0,0,0,ok=False) row on the stub path, no crash
    import pyspark.sql.functions as SF

    blobs = multimodal.attach_text_blob(docs).withColumn(
        "content",
        SF.when(SF.col("id") == 1, SF.lit(None).cast("binary"))
        .otherwise(SF.col("content")),
    )
    rows = {r["id"]: r for r in
            multimodal.decode_images(blobs, fake=True).collect()}
    assert not rows[1]["ok"] and rows[1]["width"] == 0
    assert all(r["ok"] for i, r in rows.items() if i != 1)


# --- mergeable profiles ----------------------------------------------------

def test_mergeable_profile_equals_oneshot(spark):
    """r9: merged per-slice profile states equal the one-shot state of
    the concatenated data — every exact field exactly; the HLL
    distinct estimate within sketch error of the true count (a sparse
    sketch promotes to dense during union, so merged and one-shot
    estimates may differ by a few counts — both must stay within the
    lgK=12 error envelope)."""
    from dwc_dataframe_validator_spark.operators.profile import (
        merge_profile_states,
        profile_estimate,
        profile_state,
    )
    from dwc_dataframe_validator_spark.sources.tables import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    # one-shot: a single "slice" covering everything
    oneshot = profile_estimate(
        merge_profile_states(profile_state(orders, "all"))
    ).drop("n_slices")
    # merged: four unequal slices (incl. one EMPTY slice — a batch
    # with no survivors must not poison the merge)
    parts = [
        orders.filter(F.col("o_orderkey") % 3 == i) for i in range(3)
    ] + [orders.filter(F.lit(False))]
    st = None
    for i, p in enumerate(parts):
        s = profile_state(p, f"s{i}")
        st = s if st is None else st.unionByName(s)
    merged = profile_estimate(merge_profile_states(st)).drop("n_slices")
    got = sorted(map(tuple, merged.collect()))
    want = sorted(map(tuple, oneshot.collect()))
    assert [t[:-1] for t in got] == [t[:-1] for t in want]  # exact fields
    true_nd = {
        c: orders.select(c).distinct().count() for c in orders.columns
    }
    for row in merged.collect():
        est, true = row["n_distinct_approx"], true_nd[row["column"]]
        assert abs(est - true) <= max(3, 0.05 * true), (
            row["column"], est, true,
        )


def test_ingest_slice_profile_wiring(spark, tmp_path):
    """r9: ingest_slice(profile=True) appends per-slice profile state
    under the index; corpus_profile's merged counters equal a direct
    profile of all survivors — lifetime profiling without rescan."""
    from dwc_dataframe_validator_spark.operators.incremental import (
        corpus_profile,
        fingerprint_store,
        ingest_slice,
        save_fingerprint_index,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    path = str(tmp_path / "store")
    save_fingerprint_index(fingerprint_store(empty), path)
    s1 = ingest_slice(
        spark, path,
        spark.createDataFrame(
            [(1, "a b c"), (2, "a  B c"), (3, "d e f")],
            "doc_id long, text string",
        ),
        profile=True, slice_id="s1",
    )
    s2 = ingest_slice(
        spark, path,
        spark.createDataFrame(
            [(4, "a b c"), (5, "x y z")], "doc_id long, text string"
        ),
        profile=True, slice_id="s2",
    )
    surv = {r["doc_id"] for r in s1.collect()} | {
        r["doc_id"] for r in s2.collect()
    }
    prof = {r["column"]: r for r in corpus_profile(spark, path).collect()}
    assert prof["doc_id"]["n_slices"] == 2
    assert prof["doc_id"]["n_rows"] == len(surv)
    assert prof["doc_id"]["sum_long"] == sum(surv)
    assert prof["doc_id"]["min_num"] == min(surv)
    assert prof["doc_id"]["max_num"] == max(surv)
    # survivors carry (doc_id, fingerprint, batch_copies)
    assert prof["fingerprint"]["n_nonnull"] == len(surv)
    assert prof["doc_id"]["n_distinct_approx"] == len(surv)  # tiny n: exact


def test_histogram_state_merge_and_quantile_bounds(spark):
    """r9: numeric-histogram state — merged slices equal the one-shot
    histogram EXACTLY (deterministic bucketing + integer counts), and
    every quantile estimate brackets the true quantile within its
    bucket (error ≤ g by construction), negatives and nulls included."""
    from dwc_dataframe_validator_spark.operators.profile import (
        histogram_quantiles,
        histogram_state,
        merge_histogram_states,
    )

    df = spark.range(0, 2000).selectExpr(
        "id",
        # skewed, signed, with nulls: v in [-50, ~350]
        "CASE WHEN id % 11 = 0 THEN CAST(NULL AS DOUBLE) "
        "WHEN id % 7 = 0 THEN CAST(-(id % 100) / 2.0 AS DOUBLE) "
        "ELSE CAST(pow(id % 60, 1.7) AS DOUBLE) END AS v",
    )
    g = 0.25
    oneshot = merge_histogram_states(histogram_state(df, {"v": g}, "all"))
    st = None
    for i in range(4):
        s = histogram_state(df.filter(F.col("id") % 4 == i), {"v": g}, f"s{i}")
        st = s if st is None else st.unionByName(s)
    merged = merge_histogram_states(st)
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, oneshot.collect())
    )

    vals = sorted(r["v"] for r in df.collect() if r["v"] is not None)
    import math

    for row in histogram_quantiles(merged, qs=(0.1, 0.5, 0.9, 0.99)).collect():
        rank = max(1, math.ceil(row["q"] * len(vals)))
        true = vals[rank - 1]
        assert row["value_lo"] <= true < row["value_hi"], (row, true)
        assert abs(row["value_hi"] - row["value_lo"]) == g


def test_histogram_tv_distance_properties(spark):
    """r9: exact TV distance — identical histograms give 0, disjoint
    support gives 1, symmetry holds, and a hand-computed mixed case
    matches, with the integer numerator exact."""
    from dwc_dataframe_validator_spark.operators.profile import (
        histogram_state,
        histogram_tv_distance,
    )

    da = spark.createDataFrame(
        [(1.0,)] * 3 + [(2.0,)] * 1, "v double"
    )
    db = spark.createDataFrame(
        [(1.0,)] * 1 + [(2.0,)] * 3, "v double"
    )
    dc = spark.createDataFrame([(9.0,)] * 4, "v double")
    g = 1.0
    ha = histogram_state(da, {"v": g}, "a")
    hb = histogram_state(db, {"v": g}, "b")
    hc = histogram_state(dc, {"v": g}, "c")

    same = histogram_tv_distance(ha, ha).collect()[0]
    assert same["tv"] == 0.0 and int(same["tv_num"]) == 0

    disjoint = histogram_tv_distance(ha, hc).collect()[0]
    assert disjoint["tv"] == 1.0

    # p = (3/4, 1/4), q = (1/4, 3/4): TV = 1/2 * (1/2 + 1/2) = 1/2;
    # numerator = |3*4 - 1*4| + |1*4 - 3*4| = 16, denom 2*4*4
    ab = histogram_tv_distance(ha, hb).collect()[0]
    assert int(ab["tv_num"]) == 16 and ab["tv"] == 0.5
    ba = histogram_tv_distance(hb, ha).collect()[0]
    assert ba["tv"] == ab["tv"]                      # symmetry

    # grouped: NULL groups join null-safely (not dropped), and a
    # group present on only ONE side reads tv=1.0 (disjoint support —
    # a vanished/new source is maximal drift, not a missing row)
    ga = spark.createDataFrame(
        [("web", 1.0), ("web", 1.0), (None, 1.0), (None, 2.0),
         ("gone", 5.0)],
        "src string, v double",
    )
    gb = spark.createDataFrame(
        [("web", 1.0), ("web", 2.0), (None, 1.0), (None, 2.0),
         ("new", 7.0)],
        "src string, v double",
    )
    hga = histogram_state(ga, {"v": g}, "a", group_col="src")
    hgb = histogram_state(gb, {"v": g}, "b", group_col="src")
    got = {r["grp"]: r for r in histogram_tv_distance(hga, hgb).collect()}
    assert set(got) == {"web", None, "gone", "new"}
    assert got[None]["tv"] == 0.0                    # identical NULL grp
    assert got["web"]["tv"] == 0.5                   # (2,0) vs (1,1)
    assert got["gone"]["tv"] == 1.0 and got["gone"]["n_b"] == 0
    assert got["new"]["tv"] == 1.0 and got["new"]["n_a"] == 0


# --- web / URL curation ----------------------------------------------------

def test_url_normalization_rules(spark):
    """r9: the canonicalization table — case, ports, userinfo,
    tracking params, fragments, empty path, multi-part TLDs, and the
    invalid-input NULL contract."""
    from dwc_dataframe_validator_spark.operators import web

    cases = [
        (1, "HTTP://WWW.Example.COM:80/A/B?x=1#frag",
         "http://www.example.com/A/B?x=1", "example.com"),
        (2, "https://a:b@Host.CO.UK:443",
         "https://host.co.uk/", "host.co.uk"),
        (3, "https://x.site.co.uk:8443/p?utm_source=s&q=2&gclid=g&r=3",
         "https://x.site.co.uk:8443/p?q=2&r=3", "site.co.uk"),
        (4, "http://one.example.org/path#?not=query",
         "http://one.example.org/path", "example.org"),
        (5, "ftp://Files.Example.net/pub",
         "ftp://files.example.net/pub", "example.net"),
        (6, "http://localhost/x", "http://localhost/x", "localhost"),
        (7, "no scheme here", None, None),
        (8, "http:///empty-host", None, None),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, *_ in cases], "doc_id long, url string"
    )
    got = {r["doc_id"]: r for r in web.normalize_urls(df).collect()}
    for i, _, want_norm, want_dom in cases:
        assert got[i]["url_norm"] == want_norm, (i, got[i])
        assert got[i]["domain"] == want_dom, (i, got[i])

    # dedup: case/port/tracking variants of one page collapse to the
    # min id; invalid rows all survive
    dup = spark.createDataFrame(
        [
            (10, "http://A.com/x?utm_source=1"),
            (11, "HTTP://a.COM:80/x"),
            (12, "http://a.com/x"),
            (13, "http://a.com/y"),
            (14, "garbage"),
            (15, "more garbage"),
        ],
        "doc_id long, url string",
    )
    kept = sorted(
        r["doc_id"] for r in web.url_dedup_keepers(dup, "url").collect()
    )
    assert kept == [10, 13, 14, 15]


def test_registrable_domain_psl_matrix(spark):
    """r11: public-suffix-list registrable domains — multi-part ccTLD
    suffixes (.com.cn, .co.kr), 3-label rules (k12.ca.us, the Japanese
    city wildcards), wildcard ccTLDs with exceptions (*.ck / !www.ck),
    private-section platform suffixes (github.io), IPv4/IPv6 literal
    passthrough, trailing dots — and the DuckDB SQL twin generated
    from the SAME rule file agrees host-for-host."""
    import duckdb

    from dwc_dataframe_validator_spark.operators import web

    cases = [
        # (host, expected registrable domain)
        ("www.example.com", "example.com"),
        ("a.b.shop.com.cn", "shop.com.cn"),      # multi-part ccTLD
        ("news.co.kr", "news.co.kr"),
        ("x.sh.cn", "x.sh.cn"),                  # province suffix
        ("school.k12.ca.us", "school.k12.ca.us"),  # 3-label rule
        ("a.school.k12.ca.us", "school.k12.ca.us"),
        ("foo.kawasaki.jp", "foo.kawasaki.jp"),  # *.kawasaki.jp wildcard
        ("sub.city.kawasaki.jp", "city.kawasaki.jp"),  # !city exception
        ("b.a.ck", "b.a.ck"),                    # *.ck wildcard
        ("x.www.ck", "www.ck"),                  # !www.ck exception
        ("user.github.io", "user.github.io"),    # private section
        ("a.user.github.io", "user.github.io"),
        ("1.2.3.4", "1.2.3.4"),                  # IPv4 whole, never "3.4"
        ("[2001:db8::7]", "[2001:db8::7]"),      # bracketed IPv6
        ("example.com.", "example.com"),         # trailing dot ignored
        ("co.uk", "co.uk"),                      # bare public suffix
        ("com", "com"),                          # bare TLD
        ("localhost", "localhost"),
        (None, None),
    ]
    df = spark.createDataFrame(
        [(i, h) for i, (h, _) in enumerate(cases)], "i long, host string"
    )
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i", web.registrable_domain(F.col("host")).alias("d")
        ).collect()
    }
    for i, (h, want) in enumerate(cases):
        assert got[i] == want, (h, got[i], want)

    # the generated DuckDB twin replays the identical rule grid
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (VALUES %s) v(i, host)"
        % ", ".join(
            "(%d, %s)" % (i, "NULL" if h is None else "'%s'" % h)
            for i, (h, _) in enumerate(cases)
        )
    )
    sql = """
        WITH dm0 AS (
          SELECT i, host,
                 string_split(regexp_replace(host, '\\.$', ''), '.') AS l
          FROM t),
        dm1 AS (SELECT *, {ps} AS ps_len FROM dm0)
        SELECT i, {dom} AS d FROM dm1
    """.format(
        ps=web.psl_suffix_len_sql("l"),
        dom=web.registrable_domain_sql("host", "l", "ps_len"),
    )
    oracle = {r[0]: r[1] for r in con.execute(sql).fetchall()}
    assert oracle == got


def test_domain_mix_stats_shares(spark):
    """r9: per-domain dashboard — shares sum to 1, dup_rate reflects
    repeated fingerprints, invalid URLs roll up under NULL domain."""
    from dwc_dataframe_validator_spark.operators import web

    df = spark.createDataFrame(
        [
            (1, "http://a.com/1", 10, "t1"),
            (2, "http://b.a.com/2", 20, "t1"),
            (3, "http://c.org/3", 30, "t3"),
            (4, "bad", 40, "t4"),
        ],
        "doc_id long, url string, toks long, fp string",
    )
    rows = {r["domain"]: r for r in web.domain_mix_stats(
        df, tokens_col="toks", fingerprint_col="fp"
    ).collect()}
    assert set(rows) == {"a.com", "c.org", None}
    assert rows["a.com"]["n_docs"] == 2
    assert rows["a.com"]["dup_rate"] == 0.5          # t1 twice
    assert abs(sum(r["doc_share"] for r in rows.values()) - 1.0) < 1e-12
    assert abs(sum(r["token_share"] for r in rows.values()) - 1.0) < 1e-12
    assert rows[None]["n_docs"] == 1                 # invalid bucket


def test_domain_mix_stats_input_domain_column(spark):
    """r11 (ADVICE): an input that already carries a ``domain`` column
    must not make the derived-key groupBy ambiguous — the key is
    computed under a private ``_domain`` alias."""
    from dwc_dataframe_validator_spark.operators import web

    df = spark.createDataFrame(
        [
            (1, "http://a.com/1", "pre-existing"),
            (2, "http://b.a.com/2", "junk"),
            (3, "http://c.org/3", None),
        ],
        "doc_id long, url string, domain string",
    )
    rows = {r["domain"]: r["n_docs"]
            for r in web.domain_mix_stats(df).collect()}
    assert rows == {"a.com": 2, "c.org": 1}


# --- annotate --------------------------------------------------------------

def test_annotate_and_split(spark):
    from dwc_dataframe_validator_spark.operators import annotate

    df = spark.createDataFrame(
        [(1, "50", "WGS84"), (2, "95", "WGS84"), (3, None, "GIRAFFE")],
        ["id", "lat", "datum"],
    )
    checks = {
        "lat_range": E.in_range("lat", -90, 90),
        "datum_vocab": E.vocab_member("datum", ["wgs84"]),
    }
    rows = {r["id"]: r["errors"] for r in annotate.annotate_errors(df, checks).collect()}
    assert rows[1] == []
    assert rows[2] == ["lat_range"]
    assert rows[3] == ["lat_range", "datum_vocab"]  # null fails both
    valid, quarantined = annotate.split_valid(df, checks)
    assert [r["id"] for r in valid.collect()] == [1]
    assert "errors" in quarantined.columns and quarantined.count() == 2


# --- streaming -------------------------------------------------------------

def test_streaming_windowed_counts_match_batch(spark, tmp_path):
    from dwc_dataframe_validator_spark.sources.tables import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").limit(500)
    src = str(tmp_path / "stream_src")
    ev.write.parquet(src)
    checks = {
        "value_in_range": E.in_range("value", 2, 8),
        "is_error": E.vocab_member("event_type", ["error"]),
    }
    batch = {
        r["w_start"]: (r["cnt"], r["value_in_range"], r["is_error"])
        for r in windowed_check_counts(
            spark.read.parquet(src), checks, window="1 hour"
        ).collect()
    }

    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = windowed_check_counts(stream, checks, window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["w_start"]: (r["cnt"], r["value_in_range"], r["is_error"])
        for r in spark.sql("SELECT * FROM win_counts").collect()
    }
    assert got == batch and len(batch) > 0


def test_session_window_counts(spark):
    import datetime

    from dwc_dataframe_validator_spark.streaming.validation import (
        session_check_counts,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("u1", t0, "ok"),
        ("u1", t0 + datetime.timedelta(minutes=10), "error"),
        ("u1", t0 + datetime.timedelta(minutes=70), "ok"),  # new session
        ("u2", t0, "ok"),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    out = session_check_counts(
        df,
        checks={"is_error": E.vocab_member("event_type", ["error"])},
        gap="30 minutes",
        group_cols=("user_id",),
    ).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    assert len(by_user["u1"]) == 2 and len(by_user["u2"]) == 1
    first = min(by_user["u1"], key=lambda r: r["s_start"])
    assert first["cnt"] == 2 and first["is_error"] == 1
    # session end = last event + gap
    assert (first["s_end"] - first["s_start"]).total_seconds() == 40 * 60


def test_sliding_window_counts(spark):
    import datetime

    from dwc_dataframe_validator_spark.streaming.validation import (
        windowed_check_counts,
    )

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    df = spark.createDataFrame(
        [(1, t0), (2, t0 + datetime.timedelta(minutes=40))], ["id", "ts"]
    )
    out = windowed_check_counts(
        df, checks={}, window="1 hour", slide="30 minutes"
    ).collect()
    # each event lands in 2 sliding windows
    assert sum(r["cnt"] for r in out) == 4


def test_stateful_running_invalid_counts(spark, tmp_path):
    from dwc_dataframe_validator_spark.streaming.stateful import (
        running_invalid_counts,
    )

    df = spark.createDataFrame(
        [("u1", 5.0), ("u1", 100.0), ("u2", 3.0)], ["user_id", "value"]
    )
    src = str(tmp_path / "stateful_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = running_invalid_counts(stream, "user_id", ~E.in_range("value", 2, 8))
    q = (
        out.writeStream.format("memory")
        .queryName("running_counts")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["key"]: r for r in spark.sql("SELECT * FROM running_counts").collect()}
    assert rows["u1"]["n_total"] == 2 and rows["u1"]["n_invalid"] == 1
    assert rows["u2"]["n_total"] == 1 and rows["u2"]["n_invalid"] == 0


def test_streaming_dedup(spark, tmp_path):
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, "a", t0),
        (2, "a", t0 + datetime.timedelta(minutes=5)),   # dup key within watermark
        (3, "b", t0 + datetime.timedelta(minutes=10)),
    ]
    df = spark.createDataFrame(rows, ["id", "k", "ts"])
    src = str(tmp_path / "dedup_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    deduped = streaming_dedup(stream, keys=("k",), watermark="1 hour")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = spark.sql("SELECT k FROM dedup_out").collect()
    assert sorted(r["k"] for r in kept) == ["a", "b"]


def test_multiformat_dates_match_pandas_and_duckdb(spark):
    """Three-engine parity for the lenient date parser: the pinned
    format matrix must give identical results in Spark (the engine),
    DuckDB (the oracle), and pandas (the reference's parser)."""
    import duckdb
    import pandas as pd

    from dwc_dataframe_validator_spark.functions.dates import (
        multiformat_oracle_sql,
        to_timestamp_multiformat,
    )

    strings = [
        "2024-03-09", "2024-03-09 10:11:12", "3/9/2024", "03/09/2024",
        "12/31/2024", "3/9/2024 4:5:6", "20240309", "2024/3/9",
        "Mar 9, 2024", "9 Mar 2024", "bad", "20241399", "99/99/9999",
        "March 9, 2024", "9 March 2024", "2024.3.9", "2024.13.9",
        "", None,
        # round-6 widening: DD-Mon-YYYY, time-suffixed shapes, and
        # two-digit years OUTSIDE pandas' time-dependent deviation
        # window [69, (now.year+50) % 100] (see dates.py docstring and
        # test_two_digit_year_century_pivot for the in-window pin)
        "05-Jan-2023", "5-Jan-2023", "05-Jan-2023 10:11:12",
        "2024/3/9 10:11:12", "2024.3.9 10:11:12", "9 Mar 2024 10:11:12",
        "Mar 9, 2024 10:11:12", "1/5/23", "1/5/00", "12/31/99",
        # '13/1/23' excluded: pandas/dateutil silently falls back to
        # DAY-first when month > 12 — the documented day-first
        # deviation class (dates.py docstring)
        "1/5/23 10:11:12", "1/5/203", "99/99/99",
    ]
    df = spark.createDataFrame([(s,) for s in strings], "s string")
    got = {
        r["s"]: r["p"]
        for r in df.select("s", to_timestamp_multiformat("s").alias("p")).collect()
    }
    con = duckdb.connect()
    for s in strings:
        oracle = con.execute(
            f"SELECT {multiformat_oracle_sql('s')} FROM (SELECT ? AS s)", [s]
        ).fetchone()[0]
        ref = pd.to_datetime(s, errors="coerce") if s is not None else None
        ref = None if ref is None or pd.isna(ref) else ref.to_pydatetime()
        assert got[s] == oracle, f"spark vs duckdb drift on {s!r}"
        assert got[s] == ref, f"spark vs pandas drift on {s!r}"


def test_hash_sample_partition_invariant(spark):
    from dwc_dataframe_validator_spark.operators.sampling import hash_sample

    df = spark.range(0, 5000).withColumnRenamed("id", "k")
    a = sorted(r["k"] for r in hash_sample(df, "k", 0.2).collect())
    b = sorted(
        r["k"] for r in hash_sample(df.repartition(17), "k", 0.2).collect()
    )
    assert a == b and 0 < len(a) < 5000
    # roughly the asked-for fraction (binomial, 5σ bound)
    assert abs(len(a) / 5000 - 0.2) < 0.03


def test_stratified_sample_exact_n_and_prefilter(spark):
    from dwc_dataframe_validator_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.range(0, 3000).select(
        (F.col("id") % 3).alias("g"), F.col("id").alias("k")
    )
    s = stratified_sample(df, "g", "k", 10)
    per_group = {
        r["g"]: r["c"]
        for r in s.groupBy("g").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    assert per_group == {0: 10, 1: 10, 2: 10}
    # prefilter keeps the hash-smallest rows, so the result is identical
    plain = sorted((r["g"], r["k"]) for r in s.collect())
    pre = sorted(
        (r["g"], r["k"])
        for r in stratified_sample(df, "g", "k", 10, prefilter_fraction=0.5).collect()
    )
    assert plain == pre
    # a group smaller than n returns the whole group
    tiny = spark.createDataFrame([("a", 1), ("a", 2)], ["g", "k"])
    assert stratified_sample(tiny, "g", "k", 10).count() == 2


def test_term_frequencies_and_tfidf(spark):
    from dwc_dataframe_validator_spark.operators.text import (
        term_frequencies,
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [
            (1, "apple banana apple"),
            (2, "banana cherry"),
            (3, "apple banana cherry durian"),
            (4, ""),  # empty doc: contributes no tokens
        ],
        ["doc_id", "text"],
    )
    vocab = {
        r["term"]: (r["term_freq"], r["doc_freq"])
        for r in term_frequencies(docs).collect()
    }
    assert vocab == {
        "apple": (3, 2),
        "banana": (3, 3),
        "cherry": (2, 2),
        "durian": (1, 1),
    }
    # log weighting: doc 1's top term must be 'apple' (tf=2, rarer than
    # banana) and every weight is positive
    top = tfidf_top_terms(docs, k=1, weighting="log").collect()
    by_doc = {r["doc_id"]: r for r in top}
    assert by_doc[1]["term"] == "apple" and by_doc[1]["weight"] > 0
    assert by_doc[3]["term"] == "durian"  # unique term wins
    import pytest

    with pytest.raises(ValueError, match="weighting"):
        tfidf_top_terms(docs, weighting="bogus")


def test_cms_overestimates_and_merges(spark):
    from dwc_dataframe_validator_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )

    rows = [("a",)] * 100 + [("b",)] * 50 + [("c",)] * 7 + [("d",)] * 1
    df = spark.createDataFrame(rows, "v string")
    sk = cms_build(df, "v", depth=4, width=4)  # tiny width → collisions
    est = {
        r["v"]: r["cms_est"]
        for r in cms_estimate(sk, df, "v", depth=4, width=4).collect()
    }
    exact = {"a": 100, "b": 50, "c": 7, "d": 1}
    for v, e in exact.items():
        assert est[v] >= e, f"CMS must never underestimate ({v})"
        assert est[v] <= sum(exact.values())
    # merge property: sketches of two halves, unioned and re-summed,
    # equal the sketch of the whole — the distributed-correctness core
    h1 = cms_build(spark.createDataFrame(rows[:80], "v string"), "v", 4, 4)
    h2 = cms_build(spark.createDataFrame(rows[80:], "v string"), "v", 4, 4)
    merged = (
        h1.unionByName(h2)
        .groupBy("row", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    a = sorted(map(tuple, sk.collect()))
    b = sorted(map(tuple, merged.collect()))
    assert a == b


def test_connected_components_transitive(spark):
    from dwc_dataframe_validator_spark.operators.graph import (
        cluster_summary,
        connected_components,
    )

    # chain 1-2-3-4 (no direct 1-4 edge), pair 10-11, isolated via no edge
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["ida", "idb"]
    )
    comp = {
        r["node"]: r["cluster"] for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    sizes = {
        r["cluster"]: (r["size"], r["n_dropped"])
        for r in cluster_summary(connected_components(edges)).collect()
    }
    assert sizes == {1: (4, 3), 10: (2, 1)}


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    import os

    from dwc_dataframe_validator_spark.operators.graph import (
        connected_components,
    )

    ckpt = str(tmp_path / "ckpt")
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], ["ida", "idb"]
    )
    comp = {
        r["node"]: r["cluster"]
        for r in connected_components(edges, checkpoint_dir=ckpt).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    # the reliable branch actually wrote checkpoint data to the dir
    assert any(files for _, _, files in os.walk(ckpt)), (
        "reliable checkpoint_dir was never written"
    )


def test_connected_components_iteration_bound(spark):
    import pytest

    from dwc_dataframe_validator_spark.operators.graph import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(8)], ["ida", "idb"]
    )
    # local_threshold=0 forces the distributed loop (the bound under test)
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(chain, max_iterations=2, local_threshold=0)
    ok = connected_components(chain, max_iterations=10, local_threshold=0)
    assert set(r["cluster"] for r in ok.collect()) == {0}


def test_pq_adc_check_semantics(spark):
    # PQ ADC: deterministic (value-dependent only), self-excluding,
    # rank-complete, with integer distances monotone within a query
    from dwc_dataframe_validator_spark.operators.similarity import (
        pq_adc_check,
    )
    from dwc_dataframe_validator_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = pq_adc_check(emb).collect()
    again = pq_adc_check(emb.repartition(7)).collect()
    key = lambda r: (r["query_id"], r["rank"])
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
        assert r["query_id"] != r["neighbor_id"]
        assert r["d2_pq"] >= 0
    assert len(by_q) == 8
    for q, rs in by_q.items():
        rs = sorted(rs, key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3]
        assert all(
            rs[i]["d2_pq"] <= rs[i + 1]["d2_pq"] for i in range(len(rs) - 1)
        )


def test_connected_components_long_chain(spark):
    # regression for the 10x scale spot-check failure: a path graph
    # whose diameter (200) far exceeds the round bound (25) must still
    # converge — pointer doubling makes rounds O(log diameter)
    from dwc_dataframe_validator_spark.operators.graph import (
        connected_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["ida", "idb"]
    )
    comp = connected_components(chain, local_threshold=0).collect()
    assert len(comp) == 201
    assert set(r["cluster"] for r in comp) == {0}


def test_rp_lsh_recall_on_planted_pairs(spark):
    import numpy as np

    from dwc_dataframe_validator_spark.operators.similarity import (
        rp_lsh_pairs,
    )

    rng = np.random.default_rng(7)
    dim = 16
    base = rng.standard_normal((40, dim))
    rows = []
    planted = set()
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # a near-duplicate of every 4th vector, ids 1000+i
        if i % 4 == 0:
            dup = v + rng.standard_normal(dim) * 0.02
            rows.append((1000 + i, [float(x) for x in dup]))
            planted.add((i, 1000 + i))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {
        (r["ida"], r["idb"])
        for r in rp_lsh_pairs(
            df, threshold=0.95, n_bits=32, bands=8, dim=dim
        ).collect()
    }
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9, f"recall {recall} below bound; got {got}"
    # precision is exact by construction: the verify step recomputes
    # true cosine, so nothing below threshold may appear
    assert all(p in planted or p[0] < p[1] for p in got)


def test_rp_lsh_bucket_cap_bounds_candidates(spark):
    from dwc_dataframe_validator_spark.operators.similarity import (
        rp_lsh_pairs,
    )

    # degenerate corpus: identical vectors → one bucket per band;
    # the cap must suppress the quadratic fan-out entirely
    rows = [(i, [1.0] * 8) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = rp_lsh_pairs(
        df, threshold=0.5, n_bits=16, bands=4, dim=8, max_bucket_size=10
    )
    assert out.count() == 0


def test_training_corpus_prep_stages_interact(spark):
    from dwc_dataframe_validator_spark.operators.pipeline import (
        prepare_training_corpus,
    )

    good = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, good),
            (2, "  THE   quick brown fox jumps over the lazy dog again and again "),
            (3, "x"),                      # fails the quality gate
            (4, good + " entirely different tail of words"),
        ],
        ["doc_id", "text"],
    )
    out = prepare_training_corpus(docs, sample_fraction=1.0)
    rows = {r["doc_id"]: r["fingerprint"] for r in out.collect()}
    # 2 normalizes to 1's fingerprint → only keeper 1 survives; 3 is
    # gated out; 4 is distinct
    assert set(rows) == {1, 4}
    # sample_fraction=0 keeps nothing
    assert prepare_training_corpus(docs, sample_fraction=0.0).count() == 0


def test_event_sequences_order_and_truncation(spark):
    import datetime

    from dwc_dataframe_validator_spark.operators.sequences import (
        event_sequences,
    )

    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, t0 + datetime.timedelta(minutes=m), m, f"e{m}") for m in (3, 1, 2)
    ] + [(2, t0, 0, "solo")]
    df = spark.createDataFrame(rows, ["user_id", "ts", "event_id", "event_type"])
    out = {
        r["user_id"]: (r["n_events"], r["seq"])
        for r in event_sequences(
            df, "user_id", "ts", "event_type", "event_id"
        ).collect()
    }
    assert out[1] == (3, ["e1", "e2", "e3"])  # time order, not input order
    assert out[2] == (1, ["solo"])
    trunc = {
        r["user_id"]: r["seq"]
        for r in event_sequences(
            df, "user_id", "ts", "event_type", "event_id", max_len=2
        ).collect()
    }
    assert trunc[1] == ["e1", "e2"]  # FIRST max_len after the sort


def test_read_jsonl_corrupt_record_handling(spark, tmp_path):
    from dwc_dataframe_validator_spark.sources.jsonl import read_jsonl

    p = tmp_path / "d.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "ok"}\n'
        "this is not json\n"
        '{"doc_id": 2}\n'
    )
    df = read_jsonl(spark, str(p), "doc_id long, text string")
    rows = {r["doc_id"]: r["text"] for r in df.collect() if r["doc_id"] is not None}
    assert rows == {1: "ok", 2: None}  # missing field -> NULL
    kept = read_jsonl(spark, str(p), "doc_id long, text string", keep_corrupt=True)
    bad = [r["_corrupt_record"] for r in kept.collect() if r["_corrupt_record"]]
    assert bad == ["this is not json"]


def test_chunk_documents_ragged_and_empty(spark):
    import pytest

    from dwc_dataframe_validator_spark.operators.text import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g"),  # 7 tokens -> chunks of 3: 3,3,1
            (2, "x"),
            (3, "   "),            # blank: no chunks
        ],
        ["doc_id", "text"],
    )
    out = sorted(
        (r["doc_id"], r["chunk_id"], r["chunk_text"], r["n_tokens"])
        for r in chunk_documents(docs, 3).collect()
    )
    assert out == [
        (1, 0, "a b c", 3),
        (1, 1, "d e f", 3),
        (1, 2, "g", 1),
        (2, 0, "x", 1),
    ]
    with pytest.raises(ValueError, match="chunk_tokens"):
        chunk_documents(docs, 0)


def test_contamination_exact_and_ngram(spark):
    from dwc_dataframe_validator_spark.operators.pipeline import (
        contamination_report,
        ngram_contamination,
    )

    bench = spark.createDataFrame(
        [
            (100, "What is the capital of France Paris is"),
            (101, "unrelated benchmark question about chemistry topics"),
        ],
        ["doc_id", "text"],
    )
    corpus = spark.createDataFrame(
        [
            (1, "what is THE capital   of france paris is"),  # exact after norm
            (2, "What is the capital of France Paris is maybe"),  # near-dup
            (3, "completely different training document text here"),
        ],
        ["doc_id", "text"],
    )
    exact = {r["doc_id"] for r in contamination_report(corpus, bench).collect()}
    assert exact == {1}  # normalization catches case/whitespace only
    ngram = {
        r["doc_id"]: r["contaminant_id"]
        for r in ngram_contamination(corpus, bench, threshold=0.5).collect()
    }
    # the near-dup shares 7 of its 8+7-7 bigrams with doc 100
    assert 2 in ngram and ngram[2] == 100
    assert 3 not in ngram


def test_sliding_window_counts_on_real_stream(spark, tmp_path):
    import datetime

    from dwc_dataframe_validator_spark.streaming.validation import (
        windowed_check_counts,
    )

    t0 = datetime.datetime(2024, 1, 1, 10, 30)
    rows = [(1, t0, "purchase"), (2, t0 + datetime.timedelta(hours=1), "click")]
    df = spark.createDataFrame(rows, ["event_id", "ts", "event_type"])
    src = str(tmp_path / "slide_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    out = windowed_check_counts(
        stream,
        checks={"is_purchase": F.lower(F.col("event_type")) == "purchase"},
        ts_col="ts",
        window="2 hours",
        slide="1 hour",
    )
    q = (
        out.writeStream.format("memory")
        .queryName("slide_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        r["w_start"]: (r["cnt"], r["is_purchase"])
        for r in spark.sql("SELECT * FROM slide_out").collect()
    }
    # event@10:30 -> windows starting 09:00, 10:00; event@11:30 -> 10:00, 11:00
    assert got == {
        datetime.datetime(2024, 1, 1, 9): (1, 1),
        datetime.datetime(2024, 1, 1, 10): (2, 1),
        datetime.datetime(2024, 1, 1, 11): (1, 0),
    }


def test_simhash_portable_hamming_locality(spark):
    from dwc_dataframe_validator_spark.operators.dedup import simhash_portable

    base = "the quick brown fox jumps over the lazy dog " * 5
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + "extra token"),        # near-dup: few bits differ
            (3, "completely unrelated words about spark catalyst planning"),
        ],
        ["doc_id", "text"],
    )
    sigs = {r["doc_id"]: r["simhash32"] for r in simhash_portable(docs).collect()}

    def hamming(a, b):
        return bin((a ^ b) & 0xFFFFFFFF).count("1")

    assert hamming(sigs[1], sigs[2]) <= 6
    assert hamming(sigs[1], sigs[3]) > hamming(sigs[1], sigs[2])


def test_rp_lsh_wrong_dim_fails_fast(spark):
    import pytest

    from dwc_dataframe_validator_spark.operators.similarity import (
        rp_lsh_pairs,
    )

    # a vector of the wrong length must raise, not silently alias band
    # keys (zip_with would pad with NULLs and shorten the key)
    rows = [(1, [1.0] * 8), (2, [1.0] * 7)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    with pytest.raises(Exception, match="embedding length"):
        rp_lsh_pairs(
            df, threshold=0.5, n_bits=16, bands=4, dim=8
        ).collect()


def test_sample_frames_null_payload(spark):
    from dwc_dataframe_validator_spark.operators import multimodal

    blobs = spark.createDataFrame(
        [(1, b"0123456789abcdef"), (2, None)], "id long, content binary"
    )
    frames = multimodal.sample_frames(blobs, fake=True).collect()
    # null blob contributes zero frames instead of a TypeError
    assert {f["id"] for f in frames} == {1}


def test_repetition_profile_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "alpha beta\nalpha beta\nalpha beta\ngamma delta"),
            (2, "unique one\nunique two"),
            (3, "spam spam spam spam spam"),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.repetition_profile(docs).collect()}
    # doc 1: 4 lines, "alpha beta" repeats twice after the first
    assert rows[1]["n_lines"] == 4
    assert rows[1]["dup_line_frac"] == pytest.approx(2 / 4)
    # chars in repeats-after-first (2 x "alpha beta" = 20) over all
    # line chars (3 x 10 + len("gamma delta") = 41)
    assert rows[1]["dup_line_char_frac"] == pytest.approx(20 / 41)
    # doc 2: no repetition at all
    assert rows[2]["dup_line_frac"] == 0.0
    assert rows[2]["dup_line_char_frac"] == 0.0
    # doc 3: one word repeated -> top word owns the whole mass
    assert rows[3]["top_word_frac"] == 1.0
    assert rows[1]["top_word_frac"] == pytest.approx(3 / 8)


def test_pii_scrub_planted(spark):
    docs = spark.createDataFrame(
        [
            (1, "mail me at jane.doe+x@example.org or call +1 415 555 0199"),
            (2, "server at 10.0.42.7 responded"),
            (3, "nothing sensitive here"),
            (4, None),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.pii_scrub(docs).collect()}
    assert rows[1]["n_email"] == 1 and rows[1]["n_phone"] == 1
    assert "<EMAIL>" in rows[1]["scrubbed"] and "<PHONE>" in rows[1]["scrubbed"]
    assert "jane" not in rows[1]["scrubbed"] and "0199" not in rows[1]["scrubbed"]
    assert rows[2]["n_ipv4"] == 1 and "<IP>" in rows[2]["scrubbed"]
    assert "10.0.42.7" not in rows[2]["scrubbed"]
    assert rows[3]["scrubbed"] == "nothing sensitive here"
    assert rows[4]["n_email"] == 0 and rows[4]["scrubbed"] is None


def test_pii_phone_pattern_bounds(spark):
    # the tightened phone shape: real phone formats redact; bare digit
    # runs, single-digit lists, 5-digit ID chunks and dotted
    # coordinates do not (the VERDICT-flagged false positives)
    phones = [
        "(555) 123-4567",
        "+44 20 7946 0958",
        "+14155552671",
        "555-123-4567",
    ]
    not_phones = [
        "record id 123456789 stored",
        "1 2 3 4 5 6 7 8 9",
        "ids 12345 67890 11223 44556",
        "at 60.169 24.938 today",
        "run 123456789 12 34 end",
    ]
    texts = phones + not_phones
    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in text.pii_scrub(docs).collect()}
    for i, t in enumerate(phones):
        assert rows[i]["n_phone"] >= 1, t
        assert "<PHONE>" in rows[i]["scrubbed"], t
    for j, t in enumerate(not_phones, start=len(phones)):
        assert rows[j]["n_phone"] == 0, t
        assert rows[j]["scrubbed"] == t, t


def test_pack_sequences_stream_semantics(spark):
    from dwc_dataframe_validator_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([50, 60, 30, 200, 10, 40])],
        ["doc_id", "n_tokens"],
    )
    # one bucket -> the whole corpus is one token stream in id order
    rows = {
        r["doc_id"]: r
        for r in packing.pack_sequences(
            docs, "doc_id", "n_tokens", seq_budget=100, n_buckets=1
        ).collect()
    }
    offsets = [rows[i]["start_offset"] for i in range(6)]
    assert offsets == [0, 50, 110, 140, 340, 350]
    # doc 1 STARTS inside seq 0 (offset 50) even though it crosses the
    # boundary; the 200-token doc 3 owns seq 1 onward from offset 140
    assert [rows[i]["pack_seq"] for i in range(6)] == [0, 0, 1, 1, 3, 3]


def test_materialize_sequences_manifest(spark):
    from dwc_dataframe_validator_spark.operators import packing

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate([50, 60, 30, 200, 10, 40])],
        ["doc_id", "n_tokens"],
    )
    packed = packing.pack_sequences(
        docs, "doc_id", "n_tokens", seq_budget=100, n_buckets=1
    )
    rows = {
        (r["pack_bucket"], r["pack_seq"]): r
        for r in packing.materialize_sequences(
            packed, "doc_id", "n_tokens"
        ).collect()
    }
    # same placement as test_pack_sequences_stream_semantics: seq 0
    # holds docs 0,1; seq 1 holds 2,3; seq 3 holds 4,5 (doc 3's 200
    # tokens spill across seq 2, which therefore owns no doc START)
    assert rows[(0, 0)]["doc_ids_csv"] == "0,1"
    assert rows[(0, 0)]["token_counts_csv"] == "50,60"
    assert rows[(0, 1)]["doc_ids_csv"] == "2,3"
    assert rows[(0, 3)]["doc_ids_csv"] == "4,5"
    assert (0, 2) not in rows
    assert rows[(0, 1)]["seq_tokens"] == 230 and rows[(0, 1)]["n_docs"] == 2


def test_pack_sequences_partition_invariant(spark):
    from dwc_dataframe_validator_spark.operators import packing

    docs = spark.range(0, 300).select(
        F.col("id").alias("doc_id"), (F.col("id") % 37 + 1).alias("n_tokens")
    )
    a = packing.pack_sequences(docs, "doc_id", "n_tokens", 64, n_buckets=4)
    b = packing.pack_sequences(
        docs.repartition(13), "doc_id", "n_tokens", 64, n_buckets=4
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # every row landed in a real bucket and sequence
    bounds = a.agg(
        F.min("pack_bucket"), F.max("pack_bucket"), F.min("pack_seq")
    ).first()
    assert bounds[0] >= 0 and bounds[1] <= 3 and bounds[2] == 0


def test_packing_stats_conserves_tokens(spark):
    from dwc_dataframe_validator_spark.operators import packing

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"), (F.col("id") % 91 + 5).alias("n_tokens")
    )
    total = docs.agg(F.sum("n_tokens")).first()[0]
    packed = packing.pack_sequences(docs, "doc_id", "n_tokens", 128, n_buckets=8)
    stats = packing.packing_stats(packed, "n_tokens", 128)
    agg = stats.agg(
        F.sum("total_tokens"), F.sum("n_docs"), F.sum("n_seqs")
    ).first()
    assert agg[0] == total and agg[1] == 500
    # average stream fill must be near 1 (only each bucket's tail
    # sequence can be short); max_fill may exceed 1 by < one doc
    fills = stats.agg(F.min("avg_fill"), F.max("max_fill")).first()
    assert fills[0] > 0.5 and fills[1] < 2.0


def test_mixture_sample_rates(spark):
    from dwc_dataframe_validator_spark.operators import sampling

    rows = [(i, "keep" if i % 3 == 0 else ("half" if i % 3 == 1 else "other"))
            for i in range(3000)]
    df = spark.createDataFrame(rows, ["k", "src"])
    out = sampling.mixture_sample(df, "src", "k", {"keep": 1.0, "half": 0.5})
    by_src = {r["src"]: r["cnt"] for r in
              out.groupBy("src").agg(F.count("*").alias("cnt")).collect()}
    assert by_src["keep"] == 1000            # fraction 1.0 keeps every row
    assert "other" not in by_src             # default 0.0 drops the stratum
    assert 380 <= by_src.get("half", 0) <= 620   # ~Binomial(1000, .5)
    # value-determinism: partitioning must not change the subset
    again = sampling.mixture_sample(
        df.repartition(11), "src", "k", {"keep": 1.0, "half": 0.5})
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, again.collect()))


def test_temperature_fractions_semantics(spark):
    """alpha endpoints, the rate-1 cap, null exclusion, and the guard
    rails of temperature-weighted mixture construction."""
    import pytest

    from dwc_dataframe_validator_spark.operators import sampling

    # three strata with token masses 100, 400, 1600 (+ null rows)
    rows = []
    for s, (n, per) in {"a": (10, 10), "b": (20, 20), "c": (40, 40)}.items():
        rows += [(f"{s}{i}", s, per) for i in range(n)]
    rows += [("x0", "a", None)]
    df = spark.createDataFrame(rows, "k string, src string, toks long")
    # masses: a=100, b=400, c=1600 (null excluded)

    # alpha=1: weights ∝ mass -> every stratum gets the SAME rate
    # budget/total (uniform over tokens)
    fr1 = sampling.temperature_fractions(df, "src", "toks", 525, alpha=1.0)
    assert set(fr1) == {"a", "b", "c"}
    assert max(fr1.values()) - min(fr1.values()) < 1e-12
    assert abs(fr1["a"] - 525 / 2100) < 1e-12

    # alpha=0: equal weights -> equal token BUDGET per stratum, so the
    # small stratum's rate is 16x the large one's
    fr0 = sampling.temperature_fractions(df, "src", "toks", 300, alpha=0.0)
    assert abs(fr0["a"] / fr0["c"] - 16.0) < 1e-9

    # alpha=0.5 lands between, monotone decreasing in mass
    frh = sampling.temperature_fractions(df, "src", "toks", 300)
    assert frh["a"] > frh["b"] > frh["c"]
    assert fr0["a"] > frh["a"] > fr1["a"]

    # rate cap: a budget beyond the corpus saturates at 1.0
    frbig = sampling.temperature_fractions(df, "src", "toks", 10_000_000)
    assert set(frbig.values()) == {1.0}
    # and the composed sample keeps every row of every saturated
    # stratum — null-token rows contribute no MASS but still ride
    # their stratum's rate (they are stratum members)
    out = sampling.temperature_mixture_sample(
        df, "src", "k", "toks", 10_000_000
    )
    assert out.count() == 71

    with pytest.raises(ValueError, match="token_budget"):
        sampling.temperature_fractions(df, "src", "toks", -1)
    with pytest.raises(ValueError, match="alpha"):
        sampling.temperature_fractions(df, "src", "toks", 10, alpha=-0.5)
    with pytest.raises(ValueError, match="max_strata"):
        sampling.temperature_fractions(df, "src", "toks", 10, max_strata=2)


def test_select_top_fraction_semantics(spark):
    """Quantile-cutoff selection: global and per-group, ties-kept
    (≥ cutoff), NULL scores never selected, fraction bounds guarded,
    and the plan is broadcast + map-side filter (no Sort/Window)."""
    import pytest

    from dwc_dataframe_validator_spark.operators.selection import (
        select_top_fraction,
    )

    df = spark.createDataFrame(
        [(i, "g" + str(i % 2), float(i)) for i in range(100)]
        + [(100, "g0", None)],
        "doc_id long, grp string, score double",
    )
    top10 = select_top_fraction(df, 0.1, "score")
    got = sorted(r["doc_id"] for r in top10.collect())
    # (1-0.1) quantile of 0..99 interpolates to 89.1 -> scores >= 89.1
    assert got == list(range(90, 100))

    per = select_top_fraction(df, 0.5, "score", group_col="grp")
    by = {r["grp"]: r["cnt"] for r in
          per.groupBy("grp").agg(F.count("*").alias("cnt")).collect()}
    assert by == {"g0": 25, "g1": 25}
    assert not [r for r in per.collect() if r["score"] is None]

    # everything / nothing
    assert select_top_fraction(df, 1.0, "score").count() == 100
    assert select_top_fraction(df, 0.0, "score").count() >= 1  # max ties

    plan = (
        select_top_fraction(df, 0.5, "score", group_col="grp")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan and "Sort [score" not in plan

    with pytest.raises(ValueError, match="fraction"):
        select_top_fraction(df, 1.5, "score")

    # NULL group value is a legitimate group with its own cutoff
    # (code-review r8: the equi-join silently dropped those rows)
    withnull = spark.createDataFrame(
        [(1, None, 1.0), (2, None, 2.0), (3, "g", 5.0), (4, "g", 6.0)],
        "doc_id long, grp string, score double",
    )
    kept = {r["doc_id"] for r in
            select_top_fraction(withnull, 1.0, "score", group_col="grp")
            .collect()}
    assert kept == {1, 2, 3, 4}
    top_half = {r["doc_id"] for r in
                select_top_fraction(withnull, 0.5, "score", group_col="grp")
                .collect()}
    assert top_half == {2, 4}  # per-group medians, NULL group included

    from dwc_dataframe_validator_spark.operators.selection import (
        select_top_fraction_approx,
    )

    with pytest.raises(ValueError, match="accuracy"):
        select_top_fraction_approx(df, 0.5, "score", accuracy=0)


def test_bigram_surprisal_hand_computed(spark):
    """Bigram surprisal on the integer-log2 grid against a
    hand-computed corpus: prefix-count denominators, repeated-bigram
    tf weighting, and the <2-token NULL contract."""
    from dwc_dataframe_validator_spark.operators.text import bigram_surprisal

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the cat mat"),
            (2, "the cat"),
            (3, "one"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: tuple(r)[1:] for r in bigram_surprisal(df).collect()}
    # corpus: c(the,cat)=3 with prefix c(the·)=3 -> 0 bits each;
    # (cat,sat) and (cat,mat) are 1-of-prefix-2 -> 1 bit each;
    # (sat,on), (on,the) are 1-of-1 -> 0 bits
    assert got[1] == (6, 2, 2 / 6)
    assert got[2] == (1, 0, 0.0)
    assert got[3] == (0, 0, None)
    assert got[4] == (0, 0, None)

    # single tokenize pass: exactly one scan of the input in the plan
    plan = bigram_surprisal(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_extract_all") <= 2  # zip builds, no rescan


def test_pii_scrub_idempotent_and_map_side(spark):
    """r12: two pins the planted/bounds/leak tests don't carry — the
    scrub is IDEMPOTENT (placeholders contain nothing any pattern
    matches, so a second pass is a no-op with zero counts) and the
    plan is a single exchange-free map-side projection."""
    from dwc_dataframe_validator_spark.operators.text import pii_scrub

    df = spark.createDataFrame(
        [
            (1, "mail alice.b+spam@sub.mail-host.org or bob@x.io now"),
            (2, "route 192.168.0.1 -> 10.255.3.77 done"),
            (3, "call +14155550123 or 415-555-0123 or (212) 555-0188"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    once = {r["doc_id"]: r for r in pii_scrub(df).collect()}
    assert once[1]["scrubbed"] == "mail <EMAIL> or <EMAIL> now"
    assert once[3]["n_phone"] == 3
    twice = {
        r["doc_id"]: r
        for r in pii_scrub(
            pii_scrub(df).select(
                "doc_id", F.col("scrubbed").alias("text")
            )
        ).collect()
    }
    for i in (1, 2, 3):
        assert twice[i]["scrubbed"] == once[i]["scrubbed"], i
        assert (twice[i]["n_email"], twice[i]["n_ipv4"],
                twice[i]["n_phone"]) == (0, 0, 0), i
    assert twice[4]["scrubbed"] is None

    plan = pii_scrub(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_sentence_stats_semantics(spark):
    """r12: sentence segmentation — terminated runs, the unterminated
    trailer counting as a final sentence, multi-terminal runs staying
    one sentence, integer mean (floor), NULL/empty zeroing, and the
    exchange-free plan."""
    from dwc_dataframe_validator_spark.operators.text import sentence_stats

    df = spark.createDataFrame(
        [
            (1, "One two. Three four five! Six"),
            (2, "Wow!!! Ok then."),
            (3, "no terminal punctuation at all"),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: tuple(r)[1:] for r in sentence_stats(df).collect()}
    # doc 1: "One two." (2w) + " Three four five!" (3w) + trailer
    # " Six" (1w) → 3 sentences, 2 terminated, 6 words, mean 2, max 3
    assert got[1] == (3, 2, 6, 2, 3)
    # doc 2: "Wow!!!" is ONE sentence; mean = floor(3/2) = 1
    assert got[2] == (2, 2, 3, 1, 2)
    assert got[3] == (1, 0, 5, 5, 5)      # trailer-only document
    assert got[4] == (0, 0, 0, None, None)
    assert got[5] == (0, 0, 0, None, None)

    plan = sentence_stats(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_kneser_ney_surprisal_hand_computed(spark):
    """r12: interpolated KN bigram scoring against a hand-computed
    corpus on the exact integer grid.  Corpus bigrams: (a,b):3,
    (b,a):2, (a,c):1 → N_B=3, c(a·)=4, c(b·)=2, N1+(a·)=2,
    N1+(b·)=1, N1+(·b)=N1+(·a)=N1+(·c)=1.
      (a,b): num=(12−3)·3+3·2·1=33, den=4·4·3=48 → 5−5=0 bits
      (b,a): num=(8−3)·3+3·1·1=18,  den=4·2·3=24 → 4−4=0 bits
      (a,c): num=(4−3)·3+3·2·1=9,   den=48       → 5−3=2 bits"""
    from dwc_dataframe_validator_spark.operators.text import (
        kneser_ney_surprisal,
    )

    df = spark.createDataFrame(
        [(1, "a b a b a c"), (2, "a b"), (3, "x"), (4, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: tuple(r)[1:] for r in kneser_ney_surprisal(df).collect()
    }
    assert got[1] == (5, 2, 2 / 5)
    assert got[2] == (1, 0, 0.0)
    assert got[3] == (0, 0, None)
    assert got[4] == (0, 0, None)

    # one tokenize pass at RUNTIME: the N_B branch keeps tf's exact
    # shuffle shape so AQE stage reuse serves it from the same map
    # output — the final adaptive plan has exactly one Generate and a
    # reused stage (before the r12 restructure the lineage tokenized
    # the corpus three times)
    out = kneser_ney_surprisal(df)
    out.collect()
    final = out._jdf.queryExecution().executedPlan().toString()
    main = final.split("== Initial Plan ==")[0]
    assert main.count("Generate explode") == 1, main
    assert main.count("Reused") >= 1, main


def test_profile_table_one_pass(spark):
    """Whole-table profiler: per-column non-null/distinct in schema
    order, exact vs approx variants agree on small data, the exact
    plan carries the documented Expand, the approx plan does not, and
    a zero-column frame raises."""
    import pytest

    from dwc_dataframe_validator_spark.operators.profile import profile_table

    df = spark.createDataFrame(
        [(1, "a", None), (2, "a", 1.5), (None, "b", 2.5), (4, None, 2.5)],
        "k long, s string, v double",
    )
    rows = profile_table(df, exact_distinct=True).collect()
    assert [r["column"] for r in rows] == ["k", "s", "v"]
    assert [(r["n_rows"], r["n_nonnull"], r["n_distinct"]) for r in rows] == [
        (4, 3, 3), (4, 3, 2), (4, 3, 2),
    ]
    assert [r["dtype"] for r in rows] == ["bigint", "string", "double"]

    approx = profile_table(df).collect()  # HLL is exact at this size
    assert [tuple(r) for r in approx] == [tuple(r) for r in rows]

    exact_plan = (
        profile_table(df, exact_distinct=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    approx_plan = (
        profile_table(df)._jdf.queryExecution().executedPlan().toString()
    )
    assert "Expand" in exact_plan        # the documented ×cols cost
    assert "Expand" not in approx_plan   # the 100 TB path avoids it

    with pytest.raises(ValueError, match="zero-column"):
        profile_table(df.select())


def test_corpus_diff_semantics(spark):
    """Snapshot diff: content identity (normalized text), not doc id —
    a re-ingested identical document is retained, a reworded one is
    added+removed, and the added-keepers frame is exactly the novel
    content's first new-side documents."""
    from dwc_dataframe_validator_spark.operators.incremental import (
        corpus_added,
        corpus_diff_stats,
    )

    old = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "kept text")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, "ALPHA   beta"),    # retained (normalizes equal to 1)
            (11, "brand new text"),  # added
            (12, "brand NEW text"),  # same added content, second copy
            (13, "kept text"),       # retained
        ],
        "doc_id long, text string",
    )
    stats = {r["status"]: (r["n_fingerprints"], r["n_docs"])
             for r in corpus_diff_stats(old, new).collect()}
    assert stats == {
        "retained": (2, 2),  # alpha-beta + kept text; new-side docs
        "added": (1, 2),     # one novel fingerprint, two new docs
        "removed": (1, 1),   # gamma delta
    }

    added = corpus_added(old, new).collect()
    assert [(r["doc_id"]) for r in added] == [11]  # keeper = lowest id


def test_model_quality_score_keep_cols_clash_raises(spark):
    """code-review r8: keep_cols naming a column the projection
    already emits fails at the call site, not as a distant
    AMBIGUOUS_REFERENCE."""
    import pytest

    from dwc_dataframe_validator_spark.operators import text

    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    for bad in ("doc_id", "quality_logit", "alpha_ratio"):
        with pytest.raises(ValueError, match="collide"):
            text.model_quality_score(df, keep_cols=(bad,))
    # non-colliding passthrough still works
    out = text.model_quality_score(
        df.withColumn("extra", F.lit(1)), keep_cols=("extra",)
    )
    assert "extra" in out.columns


def test_round8_samplers_on_empty_and_degenerate_input(spark):
    """Empty corpora and all-null token columns flow through the new
    samplers/planners without errors: empty plans, empty outputs,
    never a divide-by-zero or a lost schema."""
    from dwc_dataframe_validator_spark.operators import sampling

    empty = spark.createDataFrame([], "k string, src string, toks long")
    assert sampling.temperature_fractions(empty, "src", "toks", 100) == {}
    assert sampling.temperature_plan(empty, "src", "toks", 100) == {}
    out = sampling.temperature_mixture_sample(empty, "src", "k", "toks", 100)
    assert out.count() == 0
    rep = sampling.epoch_repeat_sample(empty, "src", "k", "toks", 100)
    assert rep.count() == 0 and "epoch" in rep.columns
    assert sampling.mixture_drift(empty, "src", "toks").count() == 0
    assert sampling.hash_split(empty, "k", {"train": 1.0}).count() == 0

    # all-null tokens: no mass anywhere -> empty plan, zero-rate
    # sample; the split (mass-independent) still assigns every row
    nulls = spark.createDataFrame(
        [("a", "s1", None), ("b", "s2", None)], "k string, src string, toks long"
    )
    assert sampling.temperature_fractions(nulls, "src", "toks", 100) == {}
    assert (
        sampling.temperature_mixture_sample(nulls, "src", "k", "toks", 100)
        .count() == 0
    )
    assert sampling.mixture_drift(nulls, "src", "toks").count() == 0
    assert sampling.hash_split(nulls, "k", {"train": 1.0}).count() == 2

    # single stratum: target share is exactly 1, drift exactly 0
    one = spark.createDataFrame(
        [("a", "s", 10), ("b", "s", 20)], "k string, src string, toks long"
    )
    row = sampling.mixture_drift(one, "src", "toks").collect()[0]
    assert row["target_share"] == 1.0 and row["drift"] == 0.0

    # NULL stratum values (code-review r8): excluded as unassignable
    # mass, never a None key that breaks the sorted CASE construction
    mixed = spark.createDataFrame(
        [("a", None, 50), ("b", "s1", 10), ("c", "s2", 40)],
        "k string, src string, toks long",
    )
    fr = sampling.temperature_fractions(mixed, "src", "toks", 25)
    assert set(fr) == {"s1", "s2"}
    sampled = sampling.temperature_mixture_sample(mixed, "src", "k", "toks", 25)
    assert all(r["src"] is not None for r in sampled.collect())
    rep = sampling.epoch_repeat_sample(mixed, "src", "k", "toks", 200)
    assert all(r["src"] is not None for r in rep.collect())
    only_null = spark.createDataFrame(
        [("a", None, 50)], "k string, src string, toks long"
    )
    assert sampling.temperature_fractions(only_null, "src", "toks", 25) == {}


def test_mixture_drift_semantics(spark):
    """Drift report: shares each sum to 1, alpha<1 makes small strata
    under-represented relative to target (negative drift) and large
    ones over-represented, alpha=1 zeroes drift (up to weight
    quantization), and the plan broadcasts the 1-row totals."""
    from dwc_dataframe_validator_spark.operators import sampling

    rows = []
    for s, (n, per) in {"a": (10, 10), "b": (20, 20), "c": (40, 40)}.items():
        rows += [(f"{s}{i}", s, per) for i in range(n)]
    df = spark.createDataFrame(rows, "k string, src string, toks long")
    out = {r["src"]: r for r in sampling.mixture_drift(df, "src", "toks").collect()}
    assert abs(sum(r["target_share"] for r in out.values()) - 1.0) < 1e-9
    assert abs(sum(r["observed_share"] for r in out.values()) - 1.0) < 1e-9
    assert out["a"]["drift"] < 0 < out["c"]["drift"]
    assert out["a"]["drift_ratio"] < 1 < out["c"]["drift_ratio"]
    assert abs(sum(r["drift"] for r in out.values())) < 1e-9

    flat = sampling.mixture_drift(df, "src", "toks", alpha=1.0).collect()
    assert all(abs(r["drift"]) < 1e-5 for r in flat)

    plan = (
        sampling.mixture_drift(df, "src", "toks")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_hash_split_partition_and_guards(spark):
    """Deterministic named split: total partition (with `other`),
    disjointness, sub-1 fraction drop semantics, value-stability under
    repartitioning, equal keys travel together, and the guards."""
    import pytest

    from dwc_dataframe_validator_spark.operators import sampling

    df = spark.range(0, 3000).select(F.col("id").alias("k"))
    out = sampling.hash_split(
        df, "k", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    by = {r["split"]: r["cnt"] for r in
          out.groupBy("split").agg(F.count("*").alias("cnt")).collect()}
    assert sum(by.values()) == 3000          # total partition, no drops
    assert set(by) == {"train", "val", "test"}
    assert by["train"] > 5 * max(by["val"], by["test"])

    # fractions below 1 without `other`: the residue is dropped;
    # with `other`: labelled
    part = sampling.hash_split(df, "k", {"train": 0.5})
    rest = sampling.hash_split(df, "k", {"train": 0.5}, other="held")
    n_train = part.count()
    assert rest.count() == 3000
    assert rest.filter("split = 'held'").count() == 3000 - n_train

    # stability: repartitioning changes nothing; equal keys co-travel
    again = sampling.hash_split(
        df.repartition(17), "k", {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )
    dup = spark.createDataFrame([(7,), (7,)], ["k"])
    labels = {r["split"] for r in
              sampling.hash_split(dup, "k", {"a": 0.5, "b": 0.5}).collect()}
    assert len(labels) == 1

    with pytest.raises(ValueError, match="sum"):
        sampling.hash_split(df, "k", {"a": 0.7, "b": 0.7})
    with pytest.raises(ValueError, match="at least one"):
        sampling.hash_split(df, "k", {})
    with pytest.raises(ValueError, match="negative"):
        sampling.hash_split(df, "k", {"a": -0.1, "b": 0.5})

    # r9 (ADVICE): fractions summing to 1 only nominally — float cum
    # lands at 0.9999999999999999 — must still cover the whole prefix
    # space (last bound pinned to 'g'), so no ~2^-32 sliver of rows is
    # silently dropped; an INTENTIONAL sub-1 sum keeps its real bound
    sliver = {"a": 0.7, "b": 0.1, "c": 0.1, "d": 0.1}
    assert sum(sliver.values()) < 1.0                      # float fact
    assert sampling.split_bounds(sliver)[-1][1] == "g"
    assert sampling.split_bounds({"a": 0.5})[-1][1] != "g"
    assert sampling.hash_split(df, "k", sliver).count() == 3000


def test_epoch_repeat_plan_and_materializer(spark):
    """Multi-epoch repetition: the plan is floor(q) full passes plus a
    remainder hash-sample; with no saturation it degenerates to
    temperature_fractions; the materializer's counts follow the plan
    exactly and survive repartitioning; max_epochs guards the explode."""
    import pytest

    from dwc_dataframe_validator_spark.operators import sampling

    rows = []
    for s, (n, per) in {"a": (10, 10), "b": (20, 20), "c": (40, 40)}.items():
        rows += [(f"{s}{i}", s, per) for i in range(n)]
    df = spark.createDataFrame(rows, "k string, src string, toks long")
    # masses: a=100, b=400, c=1600; total 2100

    # small budget: nobody saturates -> plan == fractions with 0 epochs
    fr = sampling.temperature_fractions(df, "src", "toks", 300)
    plan = sampling.temperature_plan(df, "src", "toks", 300)
    assert {s: p[0] for s, p in plan.items()} == {"a": 0, "b": 0, "c": 0}
    assert {s: p[1] for s, p in plan.items()} == fr

    # 4x-the-corpus budget: every stratum repeats; small strata more
    big = sampling.temperature_plan(df, "src", "toks", 8400)
    assert big["a"][0] > big["c"][0] >= 1

    out = sampling.epoch_repeat_sample(df, "src", "k", "toks", 8400)
    by = {
        (r["src"], r["epoch"]): r["cnt"]
        for r in out.groupBy("src", "epoch")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    sizes = {"a": 10, "b": 20, "c": 40}
    for s, (n, rem) in big.items():
        for e in range(1, n + 1):  # full epochs emit every row
            assert by[(s, e)] == sizes[s], (s, e)
        partial = by.get((s, n + 1), 0)  # remainder epoch is a subset
        assert 0 <= partial <= sizes[s]
        assert (s, n + 2) not in by
    # value-determinism under repartitioning
    again = sampling.epoch_repeat_sample(
        df.repartition(13), "src", "k", "toks", 8400
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, again.collect())
    )

    with pytest.raises(ValueError, match="max_epochs"):
        sampling.temperature_plan(df, "src", "toks", 10_000_000)


def test_assign_shards_deterministic_and_uniform(spark):
    from dwc_dataframe_validator_spark.operators import sampling

    df = spark.range(0, 4000).select(F.col("id").alias("k"))
    s = sampling.assign_shards(df, "k", n_shards=8)
    counts = [r["c"] for r in
              s.groupBy("shard").agg(F.count("*").alias("c")).collect()]
    assert len(counts) == 8 and min(counts) > 300  # uniform-ish, 500 expected
    one = s.filter(F.col("k") == 42).first()
    import hashlib

    assert one["shard_pos"] == hashlib.md5(b"42").hexdigest()
    assert one["shard"] == int(one["shard_pos"][:8], 16) % 8
    with pytest.raises(ValueError):
        sampling.assign_shards(df, "k", 0)


def test_interval_join_batch_semantics(spark):
    import datetime

    from dwc_dataframe_validator_spark.streaming.joins import interval_join

    t0 = datetime.datetime(2024, 1, 1, 12, 0)

    def m(minutes):
        return t0 + datetime.timedelta(minutes=minutes)

    clicks = spark.createDataFrame(
        [(1, m(0), "c1"), (1, m(90), "c2"), (2, m(0), "c3")],
        ["user_id", "ts", "click_id"],
    )
    buys = spark.createDataFrame(
        [(1, m(30), "b1"), (1, m(95), "b2"), (2, m(200), "b3"), (3, m(10), "b4")],
        ["user_id", "ts", "buy_id"],
    )
    out = interval_join(
        clicks, buys, key="user_id", lower="0 seconds", upper="1 hour"
    ).select("l.click_id", "r.buy_id")
    got = sorted(map(tuple, out.collect()))
    # c1@0 matches b1@30 (not b2@95, >1h); c2@90 matches b2@95;
    # c3 user2: b3@200 outside window; user 3 has no click
    assert got == [("c1", "b1"), ("c2", "b2")]


def test_interval_join_stream_equals_batch(spark, tmp_path):
    import datetime

    from dwc_dataframe_validator_spark.streaming.joins import interval_join

    t0 = datetime.datetime(2024, 1, 1, 12, 0)
    rows_l = [(u, t0 + datetime.timedelta(minutes=7 * i), i)
              for u in (1, 2, 3) for i in range(12)]
    rows_r = [(u, t0 + datetime.timedelta(minutes=5 * i + 2), 100 + i)
              for u in (1, 2) for i in range(15)]
    left = spark.createDataFrame(rows_l, ["user_id", "ts", "lid"])
    right = spark.createDataFrame(rows_r, ["user_id", "ts", "rid"])
    batch = sorted(
        map(tuple, interval_join(left, right, key="user_id",
                                 upper="15 minutes")
            .select("lid", "rid").collect())
    )
    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")
    left.write.parquet(lsrc)
    right.write.parquet(rsrc)
    ls = spark.readStream.schema(left.schema).parquet(lsrc)
    rs = spark.readStream.schema(right.schema).parquet(rsrc)
    out = interval_join(ls, rs, key="user_id", upper="15 minutes",
                        watermark="30 minutes").select("lid", "rid")
    q = (out.writeStream.format("memory").queryName("ij_out")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM ij_out").collect()))
    assert got == batch and len(batch) > 0


def test_model_quality_score_linear_head(spark):
    docs = spark.createDataFrame(
        [
            (1, "the cat sat of the mat and it is a fine day in the sun"),
            (2, "@@@@ #### $$$$ %%%%"),
            (3, None),
        ],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.model_quality_score(docs).collect()}
    from dwc_dataframe_validator_spark.operators.text import (
        QUALITY_MODEL_INTERCEPT,
        QUALITY_MODEL_WEIGHTS,
    )

    r1 = rows[1]
    expect = QUALITY_MODEL_INTERCEPT
    for name, wt in QUALITY_MODEL_WEIGHTS:
        expect = expect + wt * r1[name]
    assert r1["quality_logit"] == expect  # exact, not approx: fixed order
    assert r1["quality_pred"] == (expect > 0)
    assert r1["alpha_ratio"] > 0.5 and r1["stopword_frac"] > 0
    # symbol soup: zero alpha, zero stopwords -> deep negative logit
    r2 = rows[2]
    assert r2["alpha_ratio"] == 0.0 and r2["quality_pred"] is False
    assert r2["quality_logit"] < 0
    # null text propagates null score, never a crash
    assert rows[3]["quality_logit"] is None and rows[3]["quality_pred"] is None


def test_orc_roundtrip_preserves_table(spark, tmp_path):
    # ORC is the second columnar format Spark ships natively; the
    # engine's sources must not be parquet-only.
    from dwc_dataframe_validator_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    path = str(tmp_path / "docs_orc")
    docs.write.orc(path)
    back = spark.read.orc(path)
    assert back.schema == docs.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, docs.collect()))


def test_quantize_embeddings_roundtrip_error(spark):
    from dwc_dataframe_validator_spark.operators.similarity import (
        quantize_embeddings,
    )

    vecs = [
        (1, [0.5, -1.0, 0.25, 0.125]),
        (2, [100.0, 0.0, -50.0, 25.0]),
        (3, [0.0, 0.0, 0.0, 0.0]),       # zero vector: scale 0, codes 0
        (4, [1e-6, -1e-6, 5e-7, 0.0]),   # tiny magnitudes still resolve
    ]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"])
    rows = {r["vec_id"]: r for r in quantize_embeddings(df).collect()}
    assert rows[3]["scale"] == 0.0 and rows[3]["qvec"] == [0, 0, 0, 0]
    for vid, vec in vecs:
        q, s = rows[vid]["qvec"], rows[vid]["scale"]
        assert all(-127 <= c <= 127 for c in q), (vid, q)
        # dequantized value within half a quantization step
        for x, c in zip(vec, q):
            assert abs(c * s - x) <= s / 2 + 1e-12, (vid, x, c, s)
    # max-magnitude component always maps to ±127
    assert max(abs(c) for c in rows[2]["qvec"]) == 127
    with pytest.raises(ValueError):
        quantize_embeddings(df, bits=1)


def test_ivfpq_recall_and_rerank_contract(spark):
    """IVF-PQ composed index (similarity.ivfpq_check): the per-cell
    ADC shortlist + exact re-rank must (a) return exactly k ranked
    rows per query with d2_exact non-decreasing in rank, (b) beat the
    ~1/n_cells random-candidate recall floor against the TRUE integer
    top-k over the whole verification slice, and (c) every returned
    d2_exact must equal the brute-force integer distance (re-ranking
    is exact by construction)."""
    import duckdb

    from dwc_dataframe_validator_spark.operators.similarity import ivfpq_check
    from dwc_dataframe_validator_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    rows = ivfpq_check(load_table(spark, sf, "embeddings")).collect()

    got, d2 = {}, {}
    for r in rows:
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.d2_exact))
        d2[(r.query_id, r.neighbor_id)] = r.d2_exact
    assert len(got) == 8  # n_queries
    for qid, lst in got.items():
        lst.sort()
        assert [t[0] for t in lst] == [1, 2, 3]
        dists = [t[2] for t in lst]
        assert dists == sorted(dists), (qid, dists)

    # true top-3 on the same md5 slice / integer grid, brute force
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM read_parquet('{sf}/embeddings.parquet')"
    )
    truth = con.execute("""
        WITH sub AS (
          SELECT vec_id, embedding,
                 row_number() OVER (
                   ORDER BY md5('ivfpq6:' || CAST(vec_id AS VARCHAR)), vec_id
                 ) AS rn
          FROM embeddings QUALIFY rn <= 200),
        ex AS (
          SELECT vec_id, rn, CAST(r.i - 1 AS INT) AS pos,
                 CAST(floor(CAST(embedding[CAST(r.i AS INT)] AS DOUBLE) * 1000
                            + 0.5) AS BIGINT) AS qd
          FROM sub, range(1, 17) r(i)),
        q AS (SELECT DISTINCT vec_id AS query_id FROM ex
              WHERE rn > 8 AND rn <= 16),
        d AS (
          SELECT q.query_id, b.vec_id AS neighbor_id,
                 sum((a.qd - b.qd) * (a.qd - b.qd)) AS d2
          FROM q JOIN ex a ON a.vec_id = q.query_id
          JOIN ex b ON b.pos = a.pos AND b.vec_id != q.query_id
          GROUP BY 1, 2)
        SELECT query_id, neighbor_id, CAST(d2 AS BIGINT) FROM d
        QUALIFY row_number() OVER (PARTITION BY query_id
                                   ORDER BY d2, neighbor_id) <= 3
    """).fetchall()
    true_top, true_d2 = {}, {}
    for qid, nid, dist in truth:
        true_top.setdefault(qid, set()).add(nid)
        true_d2[(qid, nid)] = dist

    hits = sum(
        len(s & {t[1] for t in got[qid]}) for qid, s in true_top.items()
    )
    recall = hits / sum(len(s) for s in true_top.values())
    # measured 11/24 on the driver data (deterministic); the random
    # single-cell floor is ~1/n_cells = 0.25
    assert recall >= 0.4, f"recall@3 {recall} below bound"

    # (c): where IVF-PQ and truth agree on a neighbor, distances match
    for key, dist in d2.items():
        if key in true_d2:
            assert dist == true_d2[key], key


def test_trained_cells_partition_and_scale_contract(spark):
    """trained_cells (similarity): every corpus row gets exactly one
    cell, cell ids are in [0, n_cells), and re-running is
    deterministic (seeded init + integer-grid arithmetic)."""
    from dwc_dataframe_validator_spark.operators.similarity import trained_cells
    from dwc_dataframe_validator_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    n = emb.count()
    out = trained_cells(emb, n_cells=10)
    rows = out.select("vec_id", "cell").collect()
    assert len(rows) == n
    assert len({r.vec_id for r in rows}) == n
    cells = {r.cell for r in rows}
    assert cells <= set(range(10))
    assert len(cells) > 1  # the fit actually spreads the corpus
    again = {(r.vec_id, r.cell) for r in
             trained_cells(emb, n_cells=10).select("vec_id", "cell").collect()}
    assert again == {(r.vec_id, r.cell) for r in rows}


def test_minhash_lsh_cache_self_cleaning(spark):
    """minhash_lsh_pairs must not leak executor storage across
    invocations: the shingle/signature caches are unpersisted inside
    the call (eager materialization of the small verified-pair set),
    so two consecutive runs leave at most their two small checkpointed
    results behind — not 2 big caches per run."""
    from dwc_dataframe_validator_spark.operators.dedup import minhash_lsh_pairs
    from dwc_dataframe_validator_spark.sources.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    n_persistent = lambda: spark.sparkContext._jsc.getPersistentRDDs().size()  # noqa: E731
    base = n_persistent()
    n1 = minhash_lsh_pairs(docs, threshold=0.5).count()
    n2 = minhash_lsh_pairs(docs, threshold=0.5).count()
    assert n1 == n2 and n1 > 0
    growth = n_persistent() - base
    assert growth <= 2, f"leaked {growth} persistent RDDs across two runs"


def test_pii_scrub_known_phone_leak(spark):
    """Documented false negative of the structural phone pattern
    (operators/text.py PII_PATTERNS): a compact national number with
    no separators and no '+' is indistinguishable from a 10-digit ID
    without lookahead, so it deliberately does NOT redact.  This pin
    makes the trade visible — if the pattern is ever widened with a
    bare \\b\\d{10}\\b alternative, this test flips and the docs/oracle
    must move together."""
    leaks = ["call me at 5551234567 ok", "5551234567"]
    redacts = ["+5551234567"]  # '+'-prefixed compact DOES redact
    docs = spark.createDataFrame(
        list(enumerate(leaks + redacts)), ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in text.pii_scrub(docs).collect()}
    for i, t in enumerate(leaks):
        assert rows[i]["n_phone"] == 0, t
        assert rows[i]["scrubbed"] == t, t
    for j, t in enumerate(redacts, start=len(leaks)):
        assert rows[j]["n_phone"] == 1, t
        assert "<PHONE>" in rows[j]["scrubbed"], t


def test_two_digit_year_century_pivot(spark):
    """Inside pandas' sliding-window deviation range ([69, now+50 mod
    100]) the parser uses the deterministic C pivot: 69-99 → 19xx on
    BOTH engines.  pandas (dateutil, now±50 window) would say 20xx for
    the early part of that range — the documented, time-dependent
    deviation this pin makes visible."""
    import datetime

    import duckdb

    from dwc_dataframe_validator_spark.functions.dates import (
        multiformat_oracle_sql,
        to_timestamp_multiformat,
    )

    df = spark.createDataFrame([("1/5/69",), ("6/30/76",)], "s string")
    got = {
        r["s"]: r["p"]
        for r in df.select("s", to_timestamp_multiformat("s").alias("p")).collect()
    }
    assert got["1/5/69"] == datetime.datetime(1969, 1, 5)
    assert got["6/30/76"] == datetime.datetime(1976, 6, 30)
    con = duckdb.connect()
    for s in got:
        oracle = con.execute(
            f"SELECT {multiformat_oracle_sql('s')} FROM (SELECT ? AS s)", [s]
        ).fetchone()[0]
        assert got[s] == oracle, f"spark vs duckdb drift on {s!r}"


def test_sample_frames_backend_branches(spark):
    """Frame sampler contract: bytes that are no codec-free container
    (here plain text) yield zero frames, never a failed query, and the
    deterministic stub keeps its exact byte-offset semantics (oracled
    in the registry); a non-positive ``max_frames`` is the caller's
    mistake and raises while the frame is built."""
    import pytest as _pytest

    from dwc_dataframe_validator_spark.operators import multimodal

    docs = spark.createDataFrame(
        [(1, "hello world frame payload"), (2, None)], ["doc_id", "text"]
    )
    blobs = multimodal.attach_text_blob(docs)

    assert multimodal.sample_frames(blobs).collect() == []
    with _pytest.raises(ValueError):
        multimodal.sample_frames(blobs, max_frames=0)

    # fake=True: the deterministic byte-offset stub
    stub = {(r.id, r.frame_idx): bytes(r.frame_bytes)
            for r in multimodal.sample_frames(blobs, fake=True).collect()}
    b = "hello world frame payload".encode()
    n = 1 + (len(b) % 4)
    step = max(1, len(b) // n)
    want = {(1, i): b[i * step : i * step + 16] for i in range(n)}
    assert stub == want


def test_trained_cells_backends_agree(spark):
    """The expression-fold and Arrow-matmul assignment backends of
    trained_cells must be bit-identical (both integer-exact) — the
    auto-switch at large n_cells must never change results."""
    from dwc_dataframe_validator_spark.operators.similarity import trained_cells
    from dwc_dataframe_validator_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    fold = {(r.vec_id, r.cell) for r in
            trained_cells(emb, n_cells=10, backend="fold")
            .select("vec_id", "cell").collect()}
    arrow = {(r.vec_id, r.cell) for r in
             trained_cells(emb, n_cells=10, backend="arrow")
             .select("vec_id", "cell").collect()}
    assert fold == arrow
    with pytest.raises(ValueError):
        trained_cells(emb, n_cells=10, backend="bogus")


def test_connected_components_local_and_distributed_agree(spark):
    """The driver union-find fast path (edge set under local_threshold)
    and the distributed label-propagation loop must produce identical
    (node, cluster) assignments — same min-label contract."""
    import random

    from dwc_dataframe_validator_spark.operators.graph import (
        connected_components,
    )

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 40, 2)]          # 20 tiny pairs
    edges += [(100 + i, 100 + i + 1) for i in range(30)]   # one long chain
    edges += [(rng.randrange(200, 240), rng.randrange(200, 240))
              for _ in range(50)]                          # random blob(s)
    df = spark.createDataFrame(edges, ["ida", "idb"]).filter("ida != idb")
    local = {(r["node"], r["cluster"]) for r in
             connected_components(df).collect()}
    dist = {(r["node"], r["cluster"]) for r in
            connected_components(df, local_threshold=0).collect()}
    assert local == dist and len(local) > 0


def test_bloom_no_false_negatives_and_merge(spark):
    from dwc_dataframe_validator_spark.operators.sketch import (
        bloom_build,
        bloom_contains,
    )

    members = [(f"m{i}",) for i in range(60)]
    others = [(f"x{i}",) for i in range(200)]
    mdf = spark.createDataFrame(members, "v string")
    filt = bloom_build(mdf, "v", k=5, m=256)  # heavy load → real FPs
    probes = spark.createDataFrame(members + others, "v string")
    verdicts = {
        r["v"]: r["bloom_positive"]
        for r in bloom_contains(filt, probes, "v", k=5, m=256).collect()
    }
    for (v,) in members:
        assert verdicts[v], f"false negative on member {v}"
    fps = sum(verdicts[v] for (v,) in others)
    assert fps < len(others), "a bloom filter saying yes to everything is no filter"
    # merge property: filters of two halves, unioned+distinct, equal
    # the filter of the whole — what makes per-shard builds combinable
    h1 = bloom_build(spark.createDataFrame(members[:30], "v string"), "v", 5, 256)
    h2 = bloom_build(spark.createDataFrame(members[30:], "v string"), "v", 5, 256)
    merged = h1.unionByName(h2).distinct()
    assert sorted(r["pos"] for r in filt.collect()) == sorted(
        r["pos"] for r in merged.collect()
    )


def test_span_dup_stats_planted(spark):
    from dwc_dataframe_validator_spark.operators.spans import (
        duplicated_span_stats,
        window_fingerprints,
    )

    boiler = "all rights reserved copyright two thousand twenty four inc"  # 9 toks
    uniq_a = " ".join(f"alpha{i}" for i in range(10))
    uniq_b = " ".join(f"beta{i}" for i in range(10))
    rows = [
        (1, f"{uniq_a} {boiler}"),          # shares boiler with doc 2
        (2, f"{boiler} {uniq_b}"),
        (3, "gamma " * 20),                  # self-repetition only
        (4, "short doc only"),               # < w tokens → no windows
        (5, ""),                             # empty
        (6, None),                           # null
        (7, " ".join(f"delta{i}" for i in range(15))),  # all unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in
           duplicated_span_stats(df, "doc_id", "text", w=8).collect()}
    assert set(out) == {1, 2, 3, 4, 5, 6, 7}, "every doc appears, null/empty included"
    # the 9-token boiler passage shared by docs 1 and 2 yields 2
    # duplicated 8-gram windows each (positions 10..11 / 0..1), whose
    # interval union is exactly the 9 boiler tokens
    for d in (1, 2):
        assert out[d]["n_dup_windows"] == 2
        assert out[d]["dup_tokens"] == 9
    # "gamma"×20: every window identical → all 13 windows duplicated,
    # union covers the whole doc
    assert out[3]["n_dup_windows"] == 13
    assert out[3]["dup_tokens"] == 20
    for d in (4, 5, 6):
        assert out[d]["n_windows"] == 0 and out[d]["dup_tokens"] == 0
    assert out[7]["n_dup_windows"] == 0 and out[7]["n_tokens"] == 15
    # fingerprint layer: doc 1's window at pos 10 equals doc 2's at pos 0
    fps = window_fingerprints(df, "doc_id", "text", w=8)
    h1 = fps.filter("doc_id = 1 AND pos = 10").collect()[0]["h"]
    h2 = fps.filter("doc_id = 2 AND pos = 0").collect()[0]["h"]
    assert h1 == h2


def test_span_contamination_planted(spark):
    from dwc_dataframe_validator_spark.operators.pipeline import span_contamination

    bench_passage = "the quick brown fox jumps over the lazy sleeping dog"  # 10 toks
    heldout = spark.createDataFrame(
        [(100, f"benchmark question {bench_passage} answer choices")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, f"intro words here {bench_passage} closing words"),  # leaks
            (2, " ".join(f"clean{i}" for i in range(20))),           # clean
            (3, "tiny doc"),                                         # no windows
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in
           span_contamination(corpus, heldout, w=8, k=5, m=4096).collect()}
    # 10-token shared passage → 3 overlapping 8-gram windows, all
    # bloom-positive (no false negatives) and all exactly confirmed
    assert out[1]["confirmed_windows"] == 3
    assert out[1]["candidate_windows"] >= 3  # FPs may add, never subtract
    assert out[2]["confirmed_windows"] == 0
    assert out[3]["n_windows"] == 0 and out[3]["candidate_windows"] == 0
    # tiny m → heavy FP load, but verification must still prune to the
    # exact overlap set
    noisy = {r["doc_id"]: r.asDict() for r in
             span_contamination(corpus, heldout, w=8, k=5, m=64).collect()}
    assert noisy[1]["confirmed_windows"] == 3
    assert noisy[2]["confirmed_windows"] == 0
    assert noisy[2]["candidate_windows"] >= 0  # bloom noise allowed here


def test_unigram_surprisal_semantics(spark):
    from dwc_dataframe_validator_spark.operators.text import unigram_surprisal

    # corpus: 'common' appears 8 times, 'rare' once, N = 16 tokens
    rows = [
        (1, "common common common common"),
        (2, "common common common common"),
        (3, "rare common word word"),
        (4, "word word word"),
        (5, ""),            # zero tokens
        (6, None),          # null text
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in unigram_surprisal(df).collect()}
    # N=15 tokens total -> floor(log2 15)=3; c(common)=6? recompute below
    # counts: common=6, rare=1, word=5+3? doc3 has 2 'word', doc4 has 3
    # => common 4+4? doc1/doc2 have 4 each = 8, doc3 1 -> common=9? keep
    # assertions structural instead of hand-counted where fragile:
    n_total = sum(out[d]["n_tokens"] for d in out)
    # rare token must contribute the maximal per-token bit gap
    import math
    flog2 = lambda c: int(math.floor(math.log2(c))) if c > 0 else 0
    # recompute expected from first principles
    toks = {}
    for _, t in rows:
        for w in (t or "").lower().split():
            toks[w] = toks.get(w, 0) + 1
    N = sum(toks.values())
    for d, t in rows:
        ws = (t or "").lower().split()
        exp_bits = sum(flog2(N) - flog2(toks[w]) for w in ws)
        assert out[d]["surprisal_bits"] == exp_bits, (d, out[d], exp_bits)
        assert out[d]["n_tokens"] == len(ws)
        if ws:
            assert abs(out[d]["bits_per_token"] - exp_bits / len(ws)) < 1e-12
        else:
            assert out[d]["bits_per_token"] is None
    # ranking property: the all-common doc scores below the rare-token doc
    assert out[3]["bits_per_token"] > out[1]["bits_per_token"]


def test_scrub_duplicated_spans_planted(spark):
    from dwc_dataframe_validator_spark.operators.spans import (
        scrub_duplicated_spans,
    )

    boiler = "one two three four five six seven eight"  # exactly w=8 tokens
    a = " ".join(f"alpha{i}" for i in range(8))
    b = " ".join(f"beta{i}" for i in range(8))
    rows = [
        (1, f"{a} {boiler}"),   # smallest (doc,pos) occurrence → keeper
        (2, f"{boiler} {b}"),   # loses the boiler window
        (3, "solo text only"),  # < w tokens, untouched
        (4, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r.asDict() for r in
           scrub_duplicated_spans(df, "doc_id", "text", w=8).collect()}
    # doc 1 keeps everything (its boiler occurrence is the keeper)
    assert out[1]["clean_text"] == f"{a} {boiler}"
    assert out[1]["n_tokens_kept"] == 16
    # doc 2 loses exactly the 8 boiler tokens, keeps its unique tail
    assert out[2]["clean_text"] == b
    assert out[2]["n_tokens_kept"] == 8 and out[2]["n_tokens"] == 16
    # short/null docs unchanged (normalized join for the short one)
    assert out[3]["clean_text"] == "solo text only"
    assert out[4]["clean_text"] == "" and out[4]["n_tokens"] == 0


def test_pretraining_pipeline_v2_stages(spark):
    from dwc_dataframe_validator_spark.operators.pipeline import (
        pretraining_pipeline_v2,
    )

    bench = "alpha beta gamma delta epsilon zeta eta theta"  # 8 toks, no stops
    good = "the cat sat on a mat of straw and the dog slept in the sun"
    dup = "the quick fox ran to a den in the woods by the old mill"
    heldout = spark.createDataFrame(
        [(100, f"benchmark intro {bench} outro text")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, good),                         # clean survivor
            (2, dup),                          # dedup winner (min id)
            (3, dup),                          # dedup loser
            (4, f"the story begins {bench} and then ends"),  # contaminated
            (5, "x1 x2 x3"),                   # quality fail: too short
            (6, "zz " * 200),                  # quality fail: no stopwords
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in
           pretraining_pipeline_v2(corpus, heldout).collect()}
    assert 1 in out and 2 in out, "clean docs survive"
    assert 3 not in out, "exact-dup loser removed"
    assert 4 not in out, "benchmark-window doc decontaminated"
    assert 5 not in out and 6 not in out, "quality gate holds on scrubbed text"
    assert out[2]["fingerprint"] is not None and out[1]["n_tokens"] > 0


def test_ivf_index_roundtrip_and_partition_pruning(spark, tmp_path):
    """Persisted-index contract: save → load → query equals the
    in-session cell-blocked result, and the query plan prunes corpus
    partitions on the cell column (the layout IS the index)."""
    from dwc_dataframe_validator_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivf_topk_from_index,
        save_ivf_index,
    )
    from dwc_dataframe_validator_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    assigned, model = build_ivf_index(emb, n_cells=8)
    path = str(tmp_path / "ivf")
    save_ivf_index(assigned, model, path)

    queries = assigned.filter(F.col("vec_id") < 5)
    want = sorted(map(tuple, ivf_topk(assigned, queries, k=3, cell_col="cell").collect()))
    got_df = ivf_topk_from_index(spark, path, queries.drop("cell"), k=3)
    got = sorted(map(tuple, got_df.collect()))
    assert got == want

    # partition pruning: filtering the reloaded corpus by cell must
    # reach the scan as a partition filter, not a post-scan filter
    from dwc_dataframe_validator_spark.operators.similarity import (
        load_ivf_index,
    )
    corpus, _ = load_ivf_index(spark, path)
    plan = corpus.filter(F.col("cell") == 3)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell" in plan, plan[:600]

    # r9: FILTERED serving — a metadata predicate pushed beneath the
    # search equals brute-force-filtered top-k within the probed cell,
    # the predicate reaches the scan as a data filter (PushedFilters),
    # and PartitionFilters still prune on the cell column
    pred = "vec_id % 2 = 0"
    wantf = sorted(map(tuple, ivf_topk(
        assigned.filter(pred), queries, k=3, cell_col="cell"
    ).collect()))
    gotf_df = ivf_topk_from_index(
        spark, path, queries.drop("cell"), k=3, predicate=pred
    )
    gotf = sorted(map(tuple, gotf_df.collect()))
    assert gotf == wantf and len(gotf) > 0
    fplan = gotf_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(cell" in fplan, fplan[:900]
    assert "PushedFilters" in fplan, fplan[:900]
    # the predicate must restrict candidates: an always-false filter
    # yields no neighbors at all
    assert ivf_topk_from_index(
        spark, path, queries.drop("cell"), k=3, predicate="vec_id < 0"
    ).count() == 0

    # r9: maintenance probe — balanced index reports healthy; piling
    # a skewed append into one cell trips needs_refit, mirroring the
    # bloom-geometry triggers (runs LAST: the appends mutate the index)
    from dwc_dataframe_validator_spark.operators.similarity import (
        append_to_ivf_index,
        ivf_index_stats,
    )

    healthy = ivf_index_stats(spark, path)
    assert healthy["n_vectors"] == emb.count()
    assert healthy["n_cells_used"] <= healthy["n_cells_configured"] == 8
    assert not healthy["needs_refit"]
    # append many copies of ONE vector: they all land in a single cell
    one = emb.limit(1).drop("cell")
    for _ in range(3):
        append_to_ivf_index(
            spark, path,
            one.crossJoin(spark.range(400)).drop("id"),
        )
    skewed = ivf_index_stats(spark, path)
    assert skewed["cell_skew"] > 4.0 and skewed["needs_refit"]


def test_incremental_dedup_ingest_roundtrip(spark, tmp_path):
    """Incremental ingestion contract (operators/incremental.py):
    slice survivors = within-slice keepers minus store hits; the
    store grows by each slice's survivors (append, no rewrite); the
    bloom screen changes nothing about WHICH rows survive (no false
    negatives); and the persisted store scan prunes on fp_bucket."""
    from dwc_dataframe_validator_spark.operators.incremental import (
        fingerprint_store,
        incremental_dedup,
        ingest_slice,
        load_fingerprint_index,
        save_fingerprint_index,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "delta epsilon zeta")],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "fpidx")
    save_fingerprint_index(fingerprint_store(corpus), path)

    slice1 = spark.createDataFrame(
        [
            (10, "  ALPHA   beta GAMMA "),   # corpus dup (norm-equal to 1)
            (11, "eta theta iota"),          # novel, duplicated in-slice
            (12, "eta  THETA   iota"),       # in-slice dup of 11
            (13, "kappa lambda mu"),         # novel
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in ingest_slice(spark, path, slice1).collect()}
    assert set(got) == {11, 13}, got
    assert got[11]["batch_copies"] == 2 and got[13]["batch_copies"] == 1

    # second slice: repeats slice1's novel doc -> now a store hit
    slice2 = spark.createDataFrame(
        [(20, "eta theta iota"), (21, "nu xi omicron")],
        ["doc_id", "text"],
    )
    got2 = {r["doc_id"] for r in ingest_slice(spark, path, slice2).collect()}
    assert got2 == {21}, got2

    # bloom path and pure anti-join produce identical survivors
    store, bits, meta = load_fingerprint_index(spark, path)
    from dwc_dataframe_validator_spark.operators import sketch

    blob = sketch.bloom_pack_bytes(bits, 1 << 16)
    pure = incremental_dedup(slice1, store)
    bloomed = incremental_dedup(slice1, store, bloom_blob=blob)
    assert sorted(map(tuple, pure.collect())) == sorted(
        map(tuple, bloomed.collect())
    )

    # the persisted layout IS the index: a bucket filter reaches the
    # scan as a partition filter
    plan = (
        store.filter(F.col("fp_bucket") == 7)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters: [isnotnull(fp_bucket" in plan, plan[:600]


def test_heldout_index_screen_matches_inline(spark, tmp_path):
    """Persisted decontamination artifact: screening a slice against
    the saved heldout index returns exactly what the inline
    span_contamination computes on the same data."""
    from dwc_dataframe_validator_spark.operators.incremental import (
        save_heldout_index,
        screen_slice_contamination,
    )
    from dwc_dataframe_validator_spark.operators.pipeline import (
        span_contamination,
    )

    heldout = spark.createDataFrame(
        [(100, "one two three four five six seven eight nine ten")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (1, "zz one two three four five six seven eight nine yy"),
            (2, "totally unrelated words with no benchmark overlap at all"),
            (3, "short"),
        ],
        ["doc_id", "text"],
    )
    path = str(tmp_path / "heldidx")
    save_heldout_index(heldout, path, w=8)
    got = sorted(
        map(tuple, screen_slice_contamination(spark, path, batch, w=8).collect())
    )
    want = sorted(map(tuple, span_contamination(batch, heldout, w=8).collect()))
    assert got == want
    by_id = {t[0]: t for t in got}
    assert by_id[1][3] > 0, "overlapping doc confirmed contaminated"
    assert by_id[2][3] == 0 and by_id[3][1] == 0


def test_bloom_bytes_form_bit_identical(spark):
    """The one-literal byte packing (sketch.bloom_pack_bytes /
    bloom_test_hex_bytes) must give the SAME verdict as the word-list
    form for every probe — members (no false negatives) and
    non-members (identical false-positive trickle), since the
    incremental/contamination oracles rely on verdict replay."""
    from dwc_dataframe_validator_spark.operators.sketch import (
        bloom_build_hex,
        bloom_pack,
        bloom_pack_bytes,
        bloom_test_hex,
        bloom_test_hex_bytes,
    )
    import hashlib

    members = spark.createDataFrame(
        [(hashlib.md5(str(i).encode()).hexdigest(),) for i in range(200)],
        "h string",
    )
    probes = spark.createDataFrame(
        [(hashlib.md5(str(i).encode()).hexdigest(),)
         for i in range(150, 600)],
        "h string",
    )
    for m in (1 << 10, 1 << 16):
        bits = bloom_build_hex(members, "h", k=5, m=m).localCheckpoint()
        words = bloom_pack(bits, m)
        blob = bloom_pack_bytes(bits, m)
        got = probes.select(
            "h",
            bloom_test_hex(F.col("h"), words, 5, m).alias("w"),
            bloom_test_hex_bytes(F.col("h"), blob, 5, m).alias("b"),
        ).collect()
        assert all(r["w"] == r["b"] for r in got), m
        hits = {r["h"] for r in got if r["b"]}
        want_members = {
            hashlib.md5(str(i).encode()).hexdigest() for i in range(150, 200)
        }
        assert want_members <= hits, "false negative in bytes form"


def test_ivf_index_append_equals_one_pass(spark, tmp_path):
    """Appending a slice to a persisted IVF index (frozen quantizer)
    must serve exactly the probes a one-pass index over the full
    corpus (assigned with the same model) would serve."""
    from dwc_dataframe_validator_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        ivf_topk_from_index,
        save_ivf_index,
    )
    from dwc_dataframe_validator_spark.sources.tables import load_table
    from pyspark.ml.functions import array_to_vector

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)

    assigned, model = build_ivf_index(first, n_cells=8)
    inc_path = str(tmp_path / "ivf_inc")
    save_ivf_index(assigned, model, inc_path)
    append_to_ivf_index(spark, inc_path, rest)

    # one-pass reference: the SAME model assigns the full corpus
    feat = "_features_cell"
    full = model.transform(
        emb.withColumn(feat, array_to_vector(F.col("embedding")))
    ).drop(feat)
    full_path = str(tmp_path / "ivf_full")
    save_ivf_index(full, model, full_path)

    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted(map(tuple,
        ivf_topk_from_index(spark, inc_path, queries, k=3).collect()))
    want = sorted(map(tuple,
        ivf_topk_from_index(spark, full_path, queries, k=3).collect()))
    assert got == want and len(got) > 0


def test_incremental_dedup_empty_seed_bootstrap(spark, tmp_path):
    """"Start the corpus from nothing": an empty seed index is valid
    (explicit load schemas — an empty partitioned write has no data
    files to infer from), and ingestion builds the corpus up from the
    first slice."""
    from dwc_dataframe_validator_spark.operators.incremental import (
        fingerprint_store,
        ingest_slice,
        save_fingerprint_index,
    )

    empty = spark.createDataFrame([], "doc_id long, text string")
    path = str(tmp_path / "seed")
    save_fingerprint_index(fingerprint_store(empty), path)

    s1 = ingest_slice(
        spark, path,
        spark.createDataFrame(
            [(1, "a b c"), (2, "a  B c")], "doc_id long, text string"
        ),
    )
    assert sorted(r["doc_id"] for r in s1.collect()) == [1]
    s2 = ingest_slice(
        spark, path,
        spark.createDataFrame(
            [(3, "a b c"), (4, "x y z")], "doc_id long, text string"
        ),
    )
    assert sorted(r["doc_id"] for r in s2.collect()) == [4]


def test_ivfpq_index_serves_cell_exact_with_full_shortlist(spark, tmp_path):
    """Persisted IVF-PQ contract: with shortlist >= cell size the ADC
    stage cannot drop a true neighbor, so serving from the index
    (codes tree + pruned vector fetch + exact re-rank) equals the
    cell-exact ivf_topk over the same coarse assignment; and both
    trees prune partitions on their keys."""
    from dwc_dataframe_validator_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk,
        ivfpq_topk_from_index,
        save_ivfpq_index,
    )
    from dwc_dataframe_validator_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    path = str(tmp_path / "ivfpq")
    save_ivfpq_index(spark, emb, path, n_cells=4, n_subspaces=4, n_codes=8)

    queries = emb.filter(F.col("vec_id") < 5)
    got = sorted(
        map(
            tuple,
            ivfpq_topk_from_index(
                spark, path, queries, k=3, shortlist=10_000
            ).select("query_id", "neighbor_id", "rank").collect(),
        )
    )
    assigned, _ = build_ivf_index(emb, n_cells=4)
    want = sorted(
        map(
            tuple,
            ivf_topk(
                assigned,
                assigned.filter(F.col("vec_id") < 5),
                k=3,
                cell_col="cell",
            ).select("query_id", "neighbor_id", "rank").collect(),
        )
    )
    assert got == want and len(got) > 0

    # a small shortlist still returns k rows per query (recall trade,
    # not a correctness cliff)
    small = ivfpq_topk_from_index(spark, path, queries, k=3, shortlist=5)
    per_q = {r["query_id"] for r in small.collect()}
    assert per_q == {r["vec_id"] for r in queries.collect()}

    # r9: filtered IVF-PQ serving — predicate beneath the shortlist
    # (on the codes tree) with a full shortlist equals the cell-exact
    # filtered result
    pred = "vec_id % 2 = 0"
    gotf = sorted(map(tuple, ivfpq_topk_from_index(
        spark, path, queries, k=3, shortlist=10_000, predicate=pred
    ).select("query_id", "neighbor_id", "rank").collect()))
    wantf = sorted(map(tuple, ivf_topk(
        assigned.filter(pred), assigned.filter(F.col("vec_id") < 5),
        k=3, cell_col="cell",
    ).select("query_id", "neighbor_id", "rank").collect()))
    assert gotf == wantf and len(gotf) > 0

    # partition pruning on both trees
    codes = spark.read.parquet(f"{path}/codes").filter(
        F.col("cell").isin([1, 2])
    )
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell" in plan or "PartitionFilters: [isnotnull(cell" in plan, plan[:400]
    vecs = spark.read.parquet(f"{path}/vectors").filter(
        F.col("vb").isin([3, 4])
    )
    plan = vecs._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [vb" in plan or "PartitionFilters: [isnotnull(vb" in plan, plan[:400]


def test_compact_fingerprint_index(spark, tmp_path):
    """Compaction contract: after N appends the store answers
    identically but with (far) fewer files; value-duplicates from
    replayed appends are dropped; a query mid-compaction semantics is
    out of scope (staged rename keeps the original until the swap)."""
    import glob

    from dwc_dataframe_validator_spark.operators.incremental import (
        compact_fingerprint_index,
        fingerprint_store,
        incremental_dedup,
        ingest_slice,
        load_fingerprint_index,
        save_fingerprint_index,
    )

    path = str(tmp_path / "idx")
    docs = [(i, f"text number {i}") for i in range(40)]
    save_fingerprint_index(
        fingerprint_store(
            spark.createDataFrame(docs[:10], "doc_id long, text string")
        ),
        path,
    )
    for lo in range(10, 40, 10):
        ingest_slice(
            spark, path,
            spark.createDataFrame(
                docs[lo : lo + 10], "doc_id long, text string"
            ),
        )
    before_files = len(glob.glob(f"{path}/fingerprints/**/*.parquet",
                                 recursive=True))
    store_b, bits_b, _mb = load_fingerprint_index(spark, path)
    want_fps = sorted(r["fingerprint"] for r in store_b.collect())
    want_bits = sorted(r["pos"] for r in bits_b.collect())

    compact_fingerprint_index(spark, path)
    after_files = len(glob.glob(f"{path}/fingerprints/**/*.parquet",
                                recursive=True))
    assert after_files < before_files, (before_files, after_files)
    store_a, bits_a, _ma = load_fingerprint_index(spark, path)
    assert sorted(r["fingerprint"] for r in store_a.collect()) == want_fps
    assert sorted(r["pos"] for r in bits_a.collect()) == want_bits
    # the compacted store still screens correctly
    again = spark.createDataFrame(docs[:5] + [(99, "brand new doc")],
                                  "doc_id long, text string")
    surv = incremental_dedup(again, store_a).collect()
    assert {r["doc_id"] for r in surv} == {99}


def test_ingest_slice_clean_composed(spark, tmp_path):
    """Composed persisted loop body (decontaminate -> dedup -> grow
    store): contaminated docs are dropped BEFORE fingerprints, store
    dups are dropped after, clean novel docs survive and enter the
    store."""
    from dwc_dataframe_validator_spark.operators.incremental import (
        fingerprint_store,
        incremental_dedup,
        ingest_slice_clean,
        load_fingerprint_index,
        save_fingerprint_index,
        save_heldout_index,
    )

    heldout = spark.createDataFrame(
        [(100, "one two three four five six seven eight nine ten")],
        ["doc_id", "text"],
    )
    hpath = str(tmp_path / "held")
    save_heldout_index(heldout, hpath, w=8)

    corpus = spark.createDataFrame(
        [(1, "existing corpus document text")], ["doc_id", "text"]
    )
    ipath = str(tmp_path / "idx")
    save_fingerprint_index(fingerprint_store(corpus), ipath)

    batch = spark.createDataFrame(
        [
            (10, "zz one two three four five six seven eight nine"),  # contaminated
            (11, "EXISTING corpus   document text"),                  # store dup
            (12, "a genuinely new clean document"),                   # survivor
            (13, "a GENUINELY new   clean document"),                 # in-slice dup of 12
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in
           ingest_slice_clean(spark, ipath, hpath, batch).collect()}
    assert set(got) == {12} and got[12]["batch_copies"] == 2, got

    # the contaminated doc did NOT enter the store: a later clean doc
    # with the same text still survives
    store, _, _meta = load_fingerprint_index(spark, ipath)
    later = spark.createDataFrame(
        [(20, "zz one two three four five six seven eight nine")],
        ["doc_id", "text"],
    )
    assert incremental_dedup(later, store).count() == 1


def test_heldout_index_append_grows_suite(spark, tmp_path):
    """Growing the benchmark suite by appending to the heldout index:
    after the append the screen flags overlaps with EITHER benchmark,
    and re-appending overlapping material cannot double-count
    confirmed windows (readers de-duplicate on load)."""
    from dwc_dataframe_validator_spark.operators.incremental import (
        save_heldout_index,
        screen_slice_contamination,
    )

    path = str(tmp_path / "held")
    bench1 = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine ten")],
        ["doc_id", "text"],
    )
    bench2 = spark.createDataFrame(
        [(2, "alpha beta gamma delta epsilon zeta eta theta iota")],
        ["doc_id", "text"],
    )
    save_heldout_index(bench1, path, w=8)
    save_heldout_index(bench2, path, w=8, mode="append")
    # duplicate append: same windows again — must not change verdicts
    save_heldout_index(bench1, path, w=8, mode="append")

    batch = spark.createDataFrame(
        [
            (10, "xx one two three four five six seven eight nine"),
            (11, "yy alpha beta gamma delta epsilon zeta eta theta xx"),
            (12, "totally unrelated clean words with no benchmark text"),
        ],
        ["doc_id", "text"],
    )
    rep = {r["doc_id"]: r for r in
           screen_slice_contamination(spark, path, batch, w=8).collect()}
    assert rep[10]["confirmed_windows"] == 2  # two windows of bench1
    assert rep[11]["confirmed_windows"] == 1  # one window of bench2
    assert rep[12]["confirmed_windows"] == 0


def test_ivfpq_index_append_equals_one_pass(spark, tmp_path):
    """IVF-PQ growth contract: appending a slice (frozen quantizer +
    frozen codebooks) serves exactly what a one-pass index over the
    full corpus serves."""
    from dwc_dataframe_validator_spark.operators.similarity import (
        append_to_ivfpq_index,
        ivfpq_topk_from_index,
        save_ivfpq_index,
    )
    from dwc_dataframe_validator_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)

    inc = str(tmp_path / "inc")
    save_ivfpq_index(spark, first, inc, n_cells=4, n_subspaces=4, n_codes=8)
    append_to_ivfpq_index(spark, inc, rest)

    # one-pass reference must use the SAME fitted models: rebuild from
    # the full corpus is a different fit, so instead serve the
    # incremental index and check against brute force per cell
    import numpy as np
    from pyspark.ml.clustering import KMeansModel
    from pyspark.ml.functions import array_to_vector

    model = KMeansModel.load(f"{inc}/quantizer")
    assigned = model.transform(
        emb.withColumn("_features_cell", array_to_vector("embedding"))
    ).drop("_features_cell")
    vecs = {
        r["vec_id"]: (np.array(r["embedding"], dtype=np.float64), r["cell"])
        for r in assigned.collect()
    }
    queries = emb.filter(F.col("vec_id") < 4)
    got = ivfpq_topk_from_index(
        spark, inc, queries, k=3, shortlist=10_000
    ).collect()
    for qid in [r["vec_id"] for r in queries.collect()]:
        qv, qc = vecs[qid]
        cands = [
            (nid, float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v))))
            for nid, (v, c) in vecs.items()
            if c == qc and nid != qid
        ]
        cands.sort(key=lambda t: (-t[1], t[0]))
        want = [(qid, nid, i + 1) for i, (nid, _) in enumerate(cands[:3])]
        have = sorted(
            [(g["query_id"], g["neighbor_id"], g["rank"]) for g in got
             if g["query_id"] == qid],
            key=lambda t: t[2],
        )
        assert have == want, (qid, have, want)


def test_select_token_budget_edges(spark):
    """Two-phase budget selection equals the naive prefix on crafted
    edges: boundary bucket split mid-way, exact-fit budget, zero
    budget, budget beyond the corpus, tied scores ordered by id."""
    from dwc_dataframe_validator_spark.operators.selection import (
        select_token_budget,
    )
    import pytest as _pytest

    rows = [
        # (doc_id, score, tokens)
        (1, 0.9000, 10),
        (2, 0.9000, 10),   # tie with 1: id order decides
        (3, 0.5004, 10),   # same bucket as 4 at granularity 0.001
        (4, 0.5001, 10),
        (5, 0.1000, 10),
    ]
    df = spark.createDataFrame(rows, "doc_id long, score double, tokens long")

    def picked(budget):
        return sorted(
            r["doc_id"]
            for r in select_token_budget(
                df, budget, "score", "tokens"
            ).collect()
        )

    assert picked(0) == []
    assert picked(10) == [1]
    assert picked(20) == [1, 2]          # tie broken by id
    assert picked(35) == [1, 2, 3]       # boundary bucket split: 3 over 4
    assert picked(40) == [1, 2, 3, 4]
    assert picked(45) == [1, 2, 3, 4]    # 5 doesn't fit (45 < 50)
    assert picked(1_000) == [1, 2, 3, 4, 5]
    with _pytest.raises(ValueError):
        select_token_budget(df, -1, "score", "tokens")

    empty = spark.createDataFrame([], "doc_id long, score double, tokens long")
    assert select_token_budget(empty, 100, "score", "tokens").count() == 0


def test_fingerprint_index_stats(spark, tmp_path):
    """The maintenance triggers fire when they should: duplicate
    appends raise needs_compaction; a deliberately tiny m raises
    needs_bloom_resize; a healthy index raises neither."""
    from dwc_dataframe_validator_spark.operators.incremental import (
        compact_fingerprint_index,
        fingerprint_index_stats,
        fingerprint_store,
        save_fingerprint_index,
    )

    docs = spark.createDataFrame(
        [(i, f"text number {i}") for i in range(50)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    store = fingerprint_store(docs)
    save_fingerprint_index(store, path)
    s = fingerprint_index_stats(spark, path)
    assert s["n_fingerprints"] == 50 and not s["needs_compaction"]
    assert 0 < s["bloom_fp_rate"] < 1e-4 and not s["needs_bloom_resize"]

    # duplicate append -> compaction trigger; compaction clears it
    save_fingerprint_index(store, path, mode="append")
    s2 = fingerprint_index_stats(spark, path)
    assert s2["duplicate_rows"] == 50 and s2["needs_compaction"]
    assert s2["n_fingerprints"] == 50
    compact_fingerprint_index(spark, path)
    s3 = fingerprint_index_stats(spark, path)
    assert s3["duplicate_rows"] == 0 and not s3["needs_compaction"]

    # undersized bloom -> resize trigger
    tiny = str(tmp_path / "tiny")
    save_fingerprint_index(store, tiny, m=256)
    assert fingerprint_index_stats(spark, tiny)["needs_bloom_resize"]


def test_dedup_rate_by_source_cross_source(spark):
    """The driver data has no cross-source duplicates, so pin the
    non-zero path here: planted shared texts across sources count
    once per (source, fingerprint), and within-source dup rates are
    exact."""
    from dwc_dataframe_validator_spark.registry import dedup_rate_by_source
    import tempfile, os

    rows = [
        (1, "shared text one", "web"),
        (2, "SHARED   text one", "books"),   # cross-source dup of 1
        (3, "shared text one", "web"),       # within-source dup of 1
        (4, "unique web doc", "web"),
        (5, "unique books doc", "books"),
        (6, "shared text one", "code"),      # third source, same text
    ]
    d = tempfile.mkdtemp()
    spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {r["source"]: r for r in dedup_rate_by_source(spark, d).collect()}
    assert got["web"]["n_docs"] == 3 and got["web"]["n_fingerprints"] == 2
    assert got["web"]["dup_docs"] == 1
    assert got["web"]["cross_source_fps"] == 1
    assert got["books"]["cross_source_fps"] == 1
    assert got["code"]["cross_source_fps"] == 1
    assert got["books"]["dup_docs"] == 0


def test_index_geometry_enforced(spark, tmp_path):
    """The round-7 footgun closure: every persisted index carries its
    bloom geometry in _meta.json, and a probe or append asserting a
    DIFFERENT geometry raises instead of silently producing bloom
    false negatives (wrong survivor sets)."""
    import pytest
    from dwc_dataframe_validator_spark.operators.incremental import (
        fingerprint_store,
        ingest_slice,
        read_index_meta,
        save_fingerprint_index,
        save_heldout_index,
        screen_slice_contamination,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma")], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    save_fingerprint_index(fingerprint_store(docs), path, k=5, m=1 << 12)
    meta = read_index_meta(spark, path)
    assert (meta["kind"], meta["k"], meta["m"]) == ("fingerprint", 5, 1 << 12)

    batch = spark.createDataFrame(
        [(2, "novel words here")], "doc_id long, text string"
    )
    # matching geometry (or none at all) passes; a mismatch raises
    assert ingest_slice(spark, path, batch, k=5, m=1 << 12).count() == 1
    with pytest.raises(ValueError, match="false negatives"):
        ingest_slice(spark, path, batch, m=1 << 16)
    with pytest.raises(ValueError, match="k=5"):
        save_fingerprint_index(
            fingerprint_store(batch), path, mode="append", k=7
        )
    # m must be a power of two (km_positions' cycling argument)
    with pytest.raises(ValueError, match="power of two"):
        save_fingerprint_index(fingerprint_store(docs), str(tmp_path / "bad"), m=1000)

    held = str(tmp_path / "held")
    save_heldout_index(
        spark.createDataFrame(
            [(9, "one two three four five six seven eight nine")],
            "doc_id long, text string",
        ),
        held,
        w=8,
    )
    hmeta = read_index_meta(spark, held)
    assert (hmeta["kind"], hmeta["w"]) == ("heldout", 8)
    with pytest.raises(ValueError, match="w=8"):
        screen_slice_contamination(spark, held, batch, w=6)
    # a pre-geometry tree (no _meta.json) is refused, not guessed at
    import os

    os.makedirs(str(tmp_path / "legacy"), exist_ok=True)
    with pytest.raises(FileNotFoundError, match="_meta.json"):
        ingest_slice(spark, str(tmp_path / "legacy"), batch)


def test_rebuild_bloom_resize_action(spark, tmp_path):
    """rebuild_bloom is the action behind needs_bloom_resize: plant an
    overfull filter, rebuild, the fill drops and the trigger clears;
    the survivor set of a subsequent ingest_slice is IDENTICAL before
    and after (blooms have no false negatives at any geometry — the
    rebuild only changes the FP trickle)."""
    from dwc_dataframe_validator_spark.operators.incremental import (
        fingerprint_store,
        index_stats,
        ingest_slice,
        read_index_meta,
        rebuild_bloom,
        save_fingerprint_index,
    )

    docs = spark.createDataFrame(
        [(i, f"corpus document number {i}") for i in range(200)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "idx")
    save_fingerprint_index(fingerprint_store(docs), path, m=1 << 10)
    s = index_stats(spark, path)
    assert s["needs_bloom_resize"], s

    batch = spark.createDataFrame(
        [(1000, "corpus document number 3"), (1001, "a genuinely new doc"),
         (1002, "another fresh document")],
        "doc_id long, text string",
    )
    # survivor set computed at the OLD geometry (on a copy of the index)
    import shutil

    copy = str(tmp_path / "idx_copy")
    shutil.copytree(path, copy)
    before = sorted(
        r["doc_id"] for r in ingest_slice(spark, copy, batch).collect()
    )

    new_meta = rebuild_bloom(spark, path)
    assert new_meta["m"] == 1 << 11 and new_meta["bloom_gen"] == 1
    assert read_index_meta(spark, path)["m"] == 1 << 11
    s2 = index_stats(spark, path)
    assert s2["bloom_fill_ratio"] < s["bloom_fill_ratio"]
    assert s2["m"] == 1 << 11

    after = sorted(
        r["doc_id"] for r in ingest_slice(spark, path, batch).collect()
    )
    assert before == after == [1001, 1002]

    # rebuild to an explicit larger m clears the trigger outright
    rebuild_bloom(spark, path, m_new=1 << 16)
    s3 = index_stats(spark, path)
    assert not s3["needs_bloom_resize"] and s3["m"] == 1 << 16


def test_compaction_crash_window_recovers(spark, tmp_path):
    """ADVICE r6: a crash between compact_index's two renames used to
    leave no fingerprints/ dir at the load path.  Loads now fall back
    to _old_<tree>, so the half-swapped store stays readable, and a
    re-run of compaction completes the swap."""
    import os

    from dwc_dataframe_validator_spark.operators.incremental import (
        compact_index,
        fingerprint_store,
        load_fingerprint_index,
        save_fingerprint_index,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    save_fingerprint_index(fingerprint_store(docs), path)
    want = sorted(
        r["fingerprint"]
        for r in load_fingerprint_index(spark, path)[0].collect()
    )

    # simulate the crash window: dst renamed away, staged copy never
    # renamed in (the staged tmp is also gone — worst case)
    os.rename(f"{path}/fingerprints", f"{path}/_old_fingerprints")
    store, bits, meta = load_fingerprint_index(spark, path)
    assert sorted(r["fingerprint"] for r in store.collect()) == want
    assert bits.count() > 0

    # re-running compaction completes the swap and removes the relic
    compact_index(spark, path)
    assert os.path.isdir(f"{path}/fingerprints")
    assert not os.path.exists(f"{path}/_old_fingerprints")
    store2, _, _ = load_fingerprint_index(spark, path)
    assert sorted(r["fingerprint"] for r in store2.collect()) == want


def test_append_after_crash_heals_half_swap(spark, tmp_path):
    """ADVICE r7 (medium): an append-mode write used to target the
    primary tree unconditionally, so the first post-crash
    ingest_slice created a fresh fingerprints/ holding only that
    slice — which _resolve_tree then preferred, silently shadowing
    the accumulated store, and the next compaction made the loss
    permanent.  Appends now complete the half-swap first."""
    import os

    from dwc_dataframe_validator_spark.operators.incremental import (
        compact_index,
        fingerprint_store,
        ingest_slice,
        load_fingerprint_index,
        save_fingerprint_index,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(20)], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    save_fingerprint_index(fingerprint_store(docs), path)

    # crash window: primary renamed away, staged copy lost
    os.rename(f"{path}/fingerprints", f"{path}/_old_fingerprints")
    os.rename(f"{path}/bloom", f"{path}/_old_bloom")

    # post-crash ingest: one duplicate of the old corpus + one new doc
    batch = spark.createDataFrame(
        [(100, "doc 3"), (101, "a brand new doc")],
        "doc_id long, text string",
    )
    survivors = sorted(r["doc_id"] for r in ingest_slice(spark, path, batch).collect())
    assert survivors == [101]  # doc 3 recognized as a duplicate

    # the heal renamed the accumulated store back before appending:
    # primary tree holds old + new, relic is gone
    assert os.path.isdir(f"{path}/fingerprints")
    assert not os.path.exists(f"{path}/_old_fingerprints")
    store, _, _ = load_fingerprint_index(spark, path)
    assert store.count() == 21

    # compaction no longer deletes anything irreplaceable, and a
    # re-ingest of the same batch admits nothing
    compact_index(spark, path)
    again = ingest_slice(spark, path, batch).collect()
    assert again == []


def test_append_bloom_generation_race_retries(spark, tmp_path):
    """ADVICE r7: an append racing rebuild_bloom could write its bloom
    positions to a superseded generation — false negatives forever
    after.  _append_bloom_checked re-reads the meta after the write
    and retries at the new geometry, so an append holding a STALE meta
    still lands its positions in the live filter."""
    from dwc_dataframe_validator_spark.operators import sketch
    from dwc_dataframe_validator_spark.operators.incremental import (
        _append_bloom_checked,
        fingerprint_store,
        incremental_dedup,
        load_fingerprint_index,
        read_index_meta,
        rebuild_bloom,
        save_fingerprint_index,
    )

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], "doc_id long, text string"
    )
    path = str(tmp_path / "idx")
    save_fingerprint_index(fingerprint_store(docs), path)
    stale = read_index_meta(spark, path)  # bloom_gen 0

    rebuild_bloom(spark, path)  # commits bloom_gen 1, deletes bloom/
    assert read_index_meta(spark, path)["bloom_gen"] == 1

    # the racing append: value tree write + bloom append with the
    # stale gen-0 meta — the re-check must route it to bloom_g1
    new = spark.createDataFrame(
        [(200, "late append doc")], "doc_id long, text string"
    )
    new_store = fingerprint_store(new)
    new_store.write.partitionBy("fp_bucket").mode("append").parquet(
        f"{path}/fingerprints"
    )
    _append_bloom_checked(spark, path, new_store, "fingerprint", stale)

    # live-filter probe: the appended fingerprint must be bloom-
    # positive (no false negative), i.e. a re-ingest of the same text
    # is screened out even through the bloom prescreen
    store, bits, meta = load_fingerprint_index(spark, path)
    blob = sketch.bloom_pack_bytes(bits, meta["m"])
    dup = spark.createDataFrame(
        [(201, "late append doc")], "doc_id long, text string"
    )
    out = incremental_dedup(dup, store, bloom_blob=blob, k=meta["k"], m=meta["m"])
    assert out.collect() == []


def test_heldout_index_stats_and_compaction(spark, tmp_path):
    """Round-7 ask: the stats probe and compaction generalize to the
    heldout (decontamination) index — same bloom-fill and
    append-duplicate triggers over the windows tree."""
    from dwc_dataframe_validator_spark.operators.incremental import (
        compact_index,
        index_stats,
        load_heldout_index,
        save_heldout_index,
    )

    heldout = spark.createDataFrame(
        [(i, f"benchmark question {i} asks about topic {i} in depth now")
         for i in range(30)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "held")
    save_heldout_index(heldout, path, w=8)
    s = index_stats(spark, path)
    assert s["kind"] == "heldout" and s["n_values"] > 0
    assert not s["needs_compaction"]

    # half-swap crash window on the heldout index: the append-mode
    # write must heal the rename before landing (r8, same contract as
    # the fingerprint tree) — without it this append would shadow the
    # accumulated windows tree
    import os as _os

    _os.rename(f"{path}/windows", f"{path}/_old_windows")

    # duplicate append -> trigger; compaction clears it and the
    # de-duplicated load is value-identical
    save_heldout_index(heldout, path, mode="append")
    assert _os.path.isdir(f"{path}/windows")
    assert not _os.path.exists(f"{path}/_old_windows")
    s2 = index_stats(spark, path)
    assert s2["needs_compaction"] and s2["duplicate_rows"] == s2["n_values"]
    want = sorted(r["h"] for r in load_heldout_index(spark, path)[0].collect())
    compact_index(spark, path)
    s3 = index_stats(spark, path)
    assert not s3["needs_compaction"] and s3["duplicate_rows"] == 0
    got = sorted(r["h"] for r in load_heldout_index(spark, path)[0].collect())
    assert got == want


def test_select_token_budget_degenerate_guards(spark):
    """Round-7 hardening of the two-phase selection: NULL scores or
    token counts are never selected (matching the oracle's NULLS-LAST
    order); a bucket blowup raises instead of OOMing the driver; and
    a degenerate boundary bucket (point-mass scores) is range-refined
    on the id tie-break so the final window sees a bounded sub-bucket,
    not the corpus."""
    import pytest

    from dwc_dataframe_validator_spark.operators.selection import (
        select_token_budget,
    )

    # NULLs excluded, result unchanged otherwise
    rows = [(1, 0.9, 10), (2, None, 10), (3, 0.8, None), (4, 0.7, 10)]
    df = spark.createDataFrame(rows, "doc_id long, score double, tokens long")
    got = sorted(
        r["doc_id"] for r in select_token_budget(df, 20, "score", "tokens").collect()
    )
    assert got == [1, 4]

    # bucket-count cap: a huge score range at tiny granularity raises
    wide = spark.range(0, 2000).selectExpr(
        "id AS doc_id", "CAST(id * 1000 AS DOUBLE) AS score",
        "CAST(1 AS BIGINT) AS tokens",
    )
    with pytest.raises(ValueError, match="max_buckets"):
        select_token_budget(
            wide, 10, "score", "tokens", granularity=0.001, max_buckets=1000
        )

    # point-mass scores: every row lands in ONE boundary bucket; with
    # boundary_cap exceeded the operator refines on the id range, the
    # result is still the exact (score DESC, id ASC) prefix, the plan
    # keeps exactly one Sort, and the sub-bucket filter shows up in it
    const = spark.range(0, 500).selectExpr(
        "id AS doc_id", "CAST(0.5 AS DOUBLE) AS score",
        "CAST(3 AS BIGINT) AS tokens",
    )
    out = select_token_budget(
        const, 3 * 120, "score", "tokens", boundary_cap=50
    )
    # pin the plan pre-execution (post-collect AQE prints re-optimized
    # fragments that double-count the same Sort)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len([ln for ln in plan.splitlines() if "Sort " in ln]) == 1
    # the sub-bucket column is pruned into its FLOOR(id-range) filter
    # expression (the coarse score bucket constant-folds away, so any
    # clamped integer-div in this plan is the refinement (r8: the
    # id sub-bucket moved from double FLOOR to exact `div` + clamp)
    assert "least(4095" in plan and " div " in plan, (
        "id-range refinement did not engage: " + plan[:600]
    )
    assert sorted(r["doc_id"] for r in out.collect()) == list(range(120))

    # varying scores inside one coarse bucket: refine on finer score
    # buckets (still exact, still one Sort)
    finely = spark.range(0, 400).selectExpr(
        "id AS doc_id",
        # all scores inside [0.5, 0.5005): one bucket at granularity .001
        "0.5 + CAST(pmod(id * 7, 500) AS DOUBLE) / 1e6 AS score",
        "CAST(2 AS BIGINT) AS tokens",
    )
    naive = [
        r["doc_id"]
        for r in finely.orderBy(F.desc("score"), F.asc("doc_id")).collect()
    ][:150]
    out2 = select_token_budget(
        finely, 2 * 150, "score", "tokens", boundary_cap=50
    )
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert len([ln for ln in plan2.splitlines() if "Sort " in ln]) == 1
    assert sorted(r["doc_id"] for r in out2.collect()) == sorted(naive)

    # non-numeric id on an over-cap point mass: loud failure with the
    # measured mass, never a silent single-partition global sort
    strid = spark.range(0, 200).selectExpr(
        "CAST(id AS STRING) AS doc_id", "CAST(0.5 AS DOUBLE) AS score",
        "CAST(1 AS BIGINT) AS tokens",
    )
    with pytest.raises(ValueError, match="not numeric"):
        select_token_budget(strid, 10, "score", "tokens", boundary_cap=50)


def test_multi_slice_ingest_soak(spark, tmp_path):
    """Round-7 soak: the production loop is N slices with maintenance
    interleaved, not one slice against a big store.  Drive 12 slices
    through ingest_slice_clean with compaction and bloom rebuilds
    fired by the stats triggers mid-loop; the accumulated survivor set
    must equal the ONE-SHOT global dedup+decontamination of the
    concatenated slices, and the store's file count stays bounded."""
    import glob

    from dwc_dataframe_validator_spark.operators.incremental import (
        compact_index,
        fingerprint_store,
        index_stats,
        ingest_slice_clean,
        load_fingerprint_index,
        rebuild_bloom,
        save_fingerprint_index,
        save_heldout_index,
    )
    from dwc_dataframe_validator_spark.operators.pipeline import (
        span_contamination,
    )
    from dwc_dataframe_validator_spark.operators.text import fingerprint

    ipath, hpath = str(tmp_path / "idx"), str(tmp_path / "held")
    heldout = spark.createDataFrame(
        [(9001, "alpha beta gamma delta epsilon zeta eta theta iota kappa")],
        "doc_id long, text string",
    )
    save_heldout_index(heldout, hpath, w=8)
    # deliberately tiny bloom so the resize trigger fires mid-soak
    save_fingerprint_index(
        fingerprint_store(spark.createDataFrame([], "doc_id long, text string")),
        ipath, m=1 << 9,
    )

    def slice_rows(s):
        base = s * 100
        rows = [
            (base + i, f"slice {s} unique document number {i}")
            for i in range(10)
        ]
        rows.append((base + 50, f"slice {s} unique document number 3"))  # in-slice dup
        if s > 0:
            rows.append((base + 60, f"slice {s-1} unique document number 7"))  # cross-slice dup
        rows.append((base + 70, "every slice repeats this exact shared text"))
        rows.append(
            (base + 80,
             f"padding {s} alpha beta gamma delta epsilon zeta eta theta iota more")
        )  # contaminated: shares an 8-token window with the heldout doc
        return rows

    all_rows, got_survivors = [], set()
    compactions = rebuilds = 0
    for s in range(12):
        rows = slice_rows(s)
        all_rows += rows
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        surv = ingest_slice_clean(spark, ipath, hpath, batch)
        got_survivors |= {r["doc_id"] for r in surv.collect()}
        stats = index_stats(spark, ipath)
        if stats["needs_bloom_resize"]:
            rebuild_bloom(spark, ipath)
            rebuilds += 1
        if stats["needs_compaction"]:
            compact_index(spark, ipath)
            compactions += 1
    assert rebuilds >= 1, "soak never crossed the bloom fill trigger"

    # one-shot oracle: decontaminate everything, then min-id per
    # fingerprint (ids increase across slices, so first-seen = min id)
    docs = spark.createDataFrame(all_rows, "doc_id long, text string")
    contaminated = {
        r["doc_id"]
        for r in span_contamination(docs, heldout)
        .filter("confirmed_windows > 0")
        .collect()
    }
    clean = docs.filter(~F.col("doc_id").isin(list(contaminated)))
    want = {
        r["keeper"]
        for r in fingerprint(clean)
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keeper"))
        .collect()
    }
    assert got_survivors == want

    # the store equals the survivor fingerprints exactly, and stays
    # compact: final file count far below the 12-slice * 256-bucket
    # append worst case
    compact_index(spark, ipath)
    store, _, _ = load_fingerprint_index(spark, ipath)
    assert store.count() == len(want)
    n_files = len(glob.glob(f"{ipath}/fingerprints/**/*.parquet", recursive=True))
    assert n_files <= 256, n_files
    s_final = index_stats(spark, ipath)
    assert not s_final["needs_compaction"] and not s_final["needs_bloom_resize"]


def test_pandas_permissive_parse(spark):
    """The opt-in permissive date parser is byte-equal to the
    reference's pd.to_datetime(errors='coerce') — including the
    dateutil free-text strings the deterministic format table
    deliberately leaves NULL — and the format-table path is a strict
    subset of it on the supported matrix."""
    import pandas as pd

    from dwc_dataframe_validator_spark.functions.dates import (
        to_timestamp_multiformat,
        to_timestamp_pandas_permissive,
    )

    strings = [
        "2023-01-05", "2023-01-05 10:11:12", "1/5/2023", "20230105",
        "Jan 5, 2023", "5 January 2023", "2023.1.5",
        # dateutil-only shapes (format table → NULL by design)
        "5th of Jan 2023", "Jan 5th 2023", "Thu Jan 5 2023",
        "not a date", "", None,
    ]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(strings)],
                               "i long, s string")
    got = {
        r["i"]: r["ts"]
        for r in df.select(
            "i", to_timestamp_pandas_permissive("s").alias("ts")
        ).collect()
    }
    # reference semantics at ELEMENT granularity: pandas-2.x whole-
    # column calls infer the format from the first element (order-
    # dependent, undistributable); per-element inference is what the
    # pandas-1.x-era reference call meant and what the udf implements
    for i, s in enumerate(strings):
        ref = pd.to_datetime(pd.Series([s]), errors="coerce", format="mixed")
        want = None if pd.isna(ref[0]) else ref[0].to_pydatetime()
        assert got[i] == want, (s, got[i], want)

    # format-table results never disagree with pandas where both parse
    both = df.select(
        to_timestamp_multiformat("s").alias("a"),
        to_timestamp_pandas_permissive("s").alias("b"),
    ).collect()
    for r in both:
        if r["a"] is not None and r["b"] is not None:
            assert r["a"] == r["b"]
    # and the dateutil-only rows now parse
    assert got[7] is not None and got[9] is not None


def test_dsir_importance_ranking(spark):
    """r9: DSIR semantics — documents made of target-domain tokens
    must out-score documents made of raw-domain tokens, an unseen doc
    mixing both lands between, and a zero-token doc reads (0, 0,
    NULL)."""
    from dwc_dataframe_validator_spark.operators.text import (
        dsir_importance_scores,
    )

    rows = (
        [(i, "wiki article reference citation " * 5, True)
         for i in range(4)]
        + [(10 + i, "click buy cheap deal " * 5, False) for i in range(4)]
        + [(20, "wiki article reference citation", False),   # target-like
           (21, "click buy cheap deal", False),              # raw-like
           (22, "wiki article click buy", False),            # mixed
           (23, "", False)]                                  # empty
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, is_t boolean")
    got = {r["doc_id"]: r for r in dsir_importance_scores(
        df, F.col("is_t"), n_buckets=64).collect()}
    assert got[20]["bits_per_token"] > got[22]["bits_per_token"] \
        > got[21]["bits_per_token"]
    assert got[20]["dsir_bits"] > 0 > got[21]["dsir_bits"]
    assert (got[23]["n_tokens"], got[23]["dsir_bits"],
            got[23]["bits_per_token"]) == (0, 0, None)


def test_boilerplate_line_scrub_semantics(spark):
    """r9: CCNet-style boilerplate line removal — a footer repeated
    across docs is removed EVERYWHERE (unlike span dedup's
    keep-first), short/blank lines are never evidence, clean docs
    round-trip byte-identical, an all-boilerplate doc becomes empty,
    NULL text stays NULL."""
    from dwc_dataframe_validator_spark.operators.text import (
        boilerplate_lines,
        scrub_boilerplate_lines,
    )

    footer = "subscribe to our newsletter today"
    rows = [
        (1, f"real content one\n{footer}\nmore real text"),
        (2, f"other article body\n\n{footer}"),
        (3, f"{footer}"),                       # all boilerplate
        (4, "unique page with no repeats\nok"),  # 'ok' too short to count
        (5, "ok\nok"),                           # short lines repeat: kept
        (6, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    boiler = {r["line"]: r["doc_freq"]
              for r in boilerplate_lines(df, 2, 8).collect()}
    assert boiler == {footer: 3}

    got = {r["doc_id"]: r for r in
           scrub_boilerplate_lines(df, 2, 8).collect()}
    assert got[1]["text"] == "real content one\nmore real text"
    assert got[1]["n_lines"] == 3 and got[1]["n_removed"] == 1
    assert got[2]["text"] == "other article body\n"
    assert got[3]["text"] == "" and got[3]["n_removed"] == 1
    assert got[4]["text"] == rows[3][1]          # byte-identical
    assert got[5]["text"] == "ok\nok" and got[5]["n_removed"] == 0
    assert got[6]["text"] is None and got[6]["n_lines"] == 0


def test_wet_extract_semantics(spark):
    """r9: WET extraction — script/style/comment content never leaks
    into text, entities decode single-pass (&amp;lt; stays &lt;),
    non-HTML and non-2xx responses yield NULL text with their status
    kept, and non-HTTP payloads yield all-NULLs."""
    from dwc_dataframe_validator_spark.operators.web import wet_extract

    html = (
        "HTTP/1.1 200 OK\r\nContent-Type: text/HTML\r\n\r\n"
        "<html><body><script>var leak = 'SECRET';</script>"
        "<style>.x { color: SECRETCOLOR; }</style>"
        "<!-- SECRETCOMMENT -->"
        "<p>Tom &amp; Jerry say &amp;lt; is literal</p>"
        "<div>multi\r\n  space   text</div></body></html>"
    )
    rows = [
        (1, html),
        (2, "HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n"
            "<p>gone</p>"),
        (3, "HTTP/1.1 200 OK\r\nContent-Type: application/json\r\n\r\n"
            "{}"),
        (4, "this is not an http response at all"),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload_text string")
    got = {r["doc_id"]: r for r in wet_extract(df).collect()}

    assert got[1]["status"] == 200
    assert got[1]["content_type"] == "text/HTML"   # case-insensitive match
    assert got[1]["text"] == (
        "Tom & Jerry say &lt; is literal multi space text"
    )
    assert "SECRET" not in got[1]["text"]
    assert got[2]["status"] == 404 and got[2]["text"] is None
    assert got[3]["status"] == 200 and got[3]["text"] is None
    assert got[4]["status"] is None and got[4]["text"] is None
    assert got[5]["status"] is None and got[5]["text"] is None


def test_wet_extract_lf_and_malformed_status(spark):
    """r9 review fixes: LF-only responses (real servers emit them)
    split head/body consistently, a 4-digit status token is malformed
    (not silently truncated to its first three digits), and headers
    are never read from payloads lacking a head/body split."""
    from dwc_dataframe_validator_spark.operators.web import (
        http_header,
        wet_extract,
    )

    rows = [
        (1, "HTTP/1.1 200 OK\nContent-Type: text/html\n\n<p>lf body</p>"),
        (2, "HTTP/1.1 2000 Weird\r\nContent-Type: text/html\r\n\r\n"
            "<p>x</p>"),
        (3, "no split here but content-type: text/html appears"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload_text string")
    got = {r["doc_id"]: r for r in wet_extract(df).collect()}
    assert got[1]["status"] == 200 and got[1]["text"] == "lf body"
    assert got[2]["status"] is None and got[2]["text"] is None
    assert got[3]["content_type"] is None

    import pytest as _pytest
    with _pytest.raises(ValueError):
        http_header(F.col("payload_text"), "accept(")


def test_warc_folded_headers_and_streaming_gzip(spark, tmp_path):
    """r9 review fixes: folded continuation headers (legal WARC/1.0)
    parse instead of discarding the rest of the file, junk header
    lines are skipped leniently, and a many-record gzip file parses
    through the incremental decompressor."""
    import gzip as _gzip

    from dwc_dataframe_validator_spark.sources.warc import (
        build_warc_record,
        iter_warc_records,
        read_warc,
    )

    folded = (
        b"WARC/1.0\r\n"
        b"WARC-Type: response\r\n"
        b"WARC-Target-URI: http://x.example\r\n"
        b"  /folded/path\r\n"          # continuation line
        b"X-Junk-No-Colon-Line\r\n"    # junk: skipped, not fatal
        b"Content-Length: 2\r\n"
        b"\r\nhi\r\n\r\n"
    )
    after = build_warc_record("http://y.example/after", b"still here")
    recs = list(iter_warc_records(folded + after))
    assert [ok for _, _, ok in recs] == [True, True]
    assert recs[0][0][b"warc-target-uri"] == b"http://x.example /folded/path"
    assert recs[0][1] == b"hi"

    # 500-record gzip stream through the incremental reader
    many = b"".join(
        build_warc_record(f"http://m.example/{i}", f"payload {i}".encode())
        for i in range(500)
    )
    (tmp_path / "m.warc.gz").write_bytes(_gzip.compress(many))
    rows = read_warc(spark, str(tmp_path / "m.warc.gz")).collect()
    assert len(rows) == 500
    assert all(r["ok"] for r in rows)
    assert {r["target_uri"] for r in rows} == {
        f"http://m.example/{i}" for i in range(500)
    }

    # string ids keep name and type in the columnar decoder
    from dwc_dataframe_validator_spark.sources.warc import (
        decode_warc_records,
    )
    blob = spark.createDataFrame(
        [("k1", bytearray(build_warc_record("http://s.example", b"p")))],
        "key string, record binary",
    )
    out = decode_warc_records(blob, id_col="key").collect()
    assert out[0]["key"] == "k1" and out[0]["ok"]


def test_cap_per_domain_semantics(spark):
    """r9: per-domain cap — two-phase result equals the naive window
    on a skewed corpus for every sub_buckets setting, score ordering
    keeps the best-scoring k, and invalid-URL (NULL-domain) rows are
    capped as their own group."""
    from dwc_dataframe_validator_spark.operators.web import cap_per_domain

    rows = (
        [(i, "http://big.example/p%d" % i, float(i % 7)) for i in range(200)]
        + [(500 + i, "http://tiny.example/x", 1.0) for i in range(3)]
        + [(900 + i, "not a url", 0.0) for i in range(5)]
    )
    df = spark.createDataFrame(rows, "doc_id long, url string, score double")

    for sb in (1, 4, 64):
        got = cap_per_domain(df, k=5, sub_buckets=sb)
        rows_got = got.collect()
        by_dom = {}
        for r in rows_got:
            by_dom.setdefault(r["domain"], []).append(r)
        assert {len(v) for v in by_dom.values()} <= {3, 5}
        assert len(by_dom["big.example"]) == 5
        assert len(by_dom["tiny.example"]) == 3
        assert len(by_dom[None]) == 5
        if sb == 1:
            baseline = sorted((r["doc_id"], r["domain_rank"])
                              for r in rows_got)
        else:  # two-phase == naive single window
            assert sorted((r["doc_id"], r["domain_rank"])
                          for r in rows_got) == baseline

    # score ordering: the k kept docs are the k highest scores
    scored = cap_per_domain(df, k=5, order_col="score").collect()
    big = [r for r in scored if r["domain"] == "big.example"]
    score_of = {i: s for i, _, s in rows}
    assert all(score_of[r["doc_id"]] == 6.0 for r in big)


def test_url_dedup_invalid_rows_survive_dup_and_null_ids(spark):
    """r9 review fix: invalid-URL rows ALL survive even with duplicate
    or NULL doc ids (unions of crawl segments produce both), and a
    NULL id never beats a real id as a valid group's keeper."""
    from dwc_dataframe_validator_spark.operators.web import (
        url_dedup_keepers,
    )

    df = spark.createDataFrame(
        [(1, "garbage"), (1, "other garbage"), (None, "also garbage"),
         (None, "http://a.example/x"), (7, "http://a.example/x"),
         (9, "http://a.example/x")],
        "doc_id long, url string",
    )
    kept = url_dedup_keepers(df).collect()
    bad = sorted(r["url"] for r in kept if not r["url"].startswith("http"))
    assert bad == ["also garbage", "garbage", "other garbage"]
    valid = [r for r in kept if r["url"].startswith("http")]
    assert len(valid) == 1 and valid[0]["doc_id"] == 7  # not NULL


def test_minhash_dedup_keepers_transitive(spark):
    """r9: fuzzy dedup end-to-end — a transitive near-dup chain
    (A~B, B~C, A!~C directly) collapses to ONE keeper (the min id),
    and unrelated documents survive untouched."""
    from dwc_dataframe_validator_spark.operators import dedup, graph
    from dwc_dataframe_validator_spark.operators.text import word_ngrams

    words = (
        "alpha beta gamma delta epsilon zeta eta theta iota kappa "
        "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi "
        "omega"
    ).split()
    mid = " ".join(words)
    head = " ".join(["one", "two", "three"] + words[3:])
    tail = " ".join(words[:-3] + ["seven", "eight", "nine"])
    # deterministic with the portable md5 hashing: banding surfaces
    # exactly (head,mid) and (mid,tail) — the chain — not (head,tail)
    rows = [(1, head), (2, mid), (3, tail),
            (9, "completely different text about spark query engines here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = word_ngrams(df, n=2).cache()
    sigs = dedup.minhash_signatures_portable(sh, k=16)
    cands = dedup.lsh_candidate_pairs(
        sigs, bands=4, max_bucket_size=100, portable_buckets=True)
    pairs = dedup.verify_candidates_jaccard(cands, sh, threshold=0.5)
    got_pairs = {(r["ida"], r["idb"]) for r in pairs.collect()}
    assert (1, 2) in got_pairs and (2, 3) in got_pairs
    comps = graph.connected_components(pairs, src="ida", dst="idb")
    kept = (df.select("doc_id")
            .join(comps, df["doc_id"] == comps["node"], "left")
            .filter(F.col("node").isNull()
                    | (F.col("doc_id") == F.col("cluster")))
            .select("doc_id").collect())
    assert sorted(r["doc_id"] for r in kept) == [1, 9]


def test_gopher_quality_flags_semantics(spark):
    """r9: document-level Gopher rules — each rule trips on its
    designed pathology and a clean document passes all of them."""
    from dwc_dataframe_validator_spark.operators.text import (
        gopher_quality_flags,
    )

    good = ("the cat sat of the mat and all is well in this fine place "
            * 5).strip()
    rows = [
        (1, good),
        (2, "short text"),                               # word count
        (3, "aa " * 60),                                 # mean word len < 3
        (4, ("# " + "the of and is to in " * 10).strip()
            + " # # # # # # # # # #"),                   # symbol ratio
        (5, "\n".join("- the item of note" for _ in range(10))),  # bullets
        (6, "\n".join("the thing is to be continued..."
                      for _ in range(10))),              # ellipses
        (7, ("123 456 789 " * 20).strip()),              # alpha words
        (8, ("lorem ipsum dolor sit amet " * 10).strip()),  # stopwords
        (9, ""),
        (10, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    g = {r["doc_id"]: r for r in
         gopher_quality_flags(df, min_words=10).collect()}
    assert g[1]["gopher_pass"] and not any(
        g[1][c] for c in g[1].asDict() if c.startswith("flag_"))
    assert g[2]["flag_word_count"]
    assert g[3]["flag_mean_word_len"]
    assert g[4]["flag_symbol_ratio"]
    assert g[5]["flag_bullet_lines"] and not g[5]["gopher_pass"]
    assert g[6]["flag_ellipsis_lines"]
    assert g[7]["flag_alpha_words"]
    assert g[8]["flag_stopwords"]
    for i in (9, 10):
        assert g[i]["flag_word_count"] and not g[i]["gopher_pass"]
        assert g[i]["mean_word_len"] is None


def test_c4_line_cleanup_semantics(spark):
    """r9: C4 line rules — unterminated and short lines are removed,
    brace/lorem-ipsum documents drop whole, all-lines-filtered and
    NULL documents drop with too_few_lines, clean docs keep order."""
    from dwc_dataframe_validator_spark.operators.text import (
        c4_line_cleanup,
    )

    rows = [
        (1, "This is a good first sentence here.\nno punctuation line\n"
            "Too short.\nAnother proper sentence ends like this!\n"
            'He said "I will handle the matter tomorrow"'),  # end quote
        (2, "function foo() { return 1; }\nA real sentence here too."),
        (3, "Lorem Ipsum dolor sit amet is filler text everywhere."),
        (4, "fragment\nanother fragment"),
        (5, None),
        (6, "Only one good sentence lives right here.\n"
            "And a second full sentence follows it."),   # < 3 kept lines
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    g = {r["doc_id"]: r
         for r in c4_line_cleanup(df, min_kept_lines=1).collect()}
    assert g[1]["text"] == (
        "This is a good first sentence here.\n"
        "Another proper sentence ends like this!\n"
        'He said "I will handle the matter tomorrow"')
    assert (g[1]["n_lines"], g[1]["n_kept"], g[1]["dropped"]) == (5, 3, False)
    assert g[2]["dropped"] and g[2]["drop_reason"] == "brace"
    assert g[2]["text"] is None
    assert g[3]["drop_reason"] == "lorem_ipsum"
    assert g[4]["drop_reason"] == "too_few_lines"
    assert g[5]["dropped"] and g[5]["n_lines"] == 0
    assert g[6]["dropped"] is False

    # default follows the paper's >=3-sentence page rule
    g3 = {r["doc_id"]: r for r in c4_line_cleanup(df).collect()}
    assert g3[6]["dropped"] and g3[6]["drop_reason"] == "too_few_lines"
    assert not g3[1]["dropped"]


def test_ngram_repetition_profile_hand_computed(spark):
    """r9: Gopher n-gram repetition — hand-computed top/dup character
    fractions, deterministic tie-break, and the short-doc zero
    contract."""
    from dwc_dataframe_validator_spark.operators.text import (
        ngram_repetition_profile,
    )

    # doc 1: "ab cd ab cd ab" — top 2-gram "ab cd" (count 2, len 5),
    # text len 14 -> top2 = 10/14; dup 2-grams: "ab cd"x2 + "cd ab"x2
    # (both len 5) -> dup2 = 20/14 (occurrence counting may exceed 1)
    rows = [(1, "ab cd ab cd ab"), (2, "one two three"), (3, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_id"], r["n"], r["kind"]): r["frac"]
           for r in ngram_repetition_profile(
               df, top_ns=(2,), dup_ns=(2, 5)).collect()}
    assert abs(got[(1, 2, "top")] - 10 / 14) < 1e-12
    assert abs(got[(1, 2, "dup")] - 20 / 14) < 1e-12
    assert got[(1, 5, "dup")] == 0.0          # no repeated 5-gram
    assert got[(2, 2, "top")] > 0.0           # unique grams: count 1
    assert got[(2, 2, "dup")] == 0.0
    for key in ((3, 2, "top"), (3, 2, "dup"), (3, 5, "dup")):
        assert got[key] == 0.0                # NULL text reads zero
    assert len(got) == 9                      # 3 docs x 3 rules


def test_ngram_repetition_lazy_cache_release(spark):
    """r11 (ADVICE): ``eager=False`` hands the tokenized-corpus cache
    to the caller — ``release_ngram_repetition_caches()`` is the
    unpersist path, and the lazy result matches the eager one."""
    from dwc_dataframe_validator_spark.operators.text import (
        _LAZY_NGRAM_CACHES,
        ngram_repetition_profile,
        release_ngram_repetition_caches,
    )

    release_ngram_repetition_caches()         # drain any prior pool
    df = spark.createDataFrame(
        [(1, "ab cd ab cd ab"), (2, "one two three")],
        "doc_id long, text string",
    )
    want = sorted(map(tuple, ngram_repetition_profile(
        df, top_ns=(2,), dup_ns=(2,)).collect()))
    lazy = ngram_repetition_profile(
        df, top_ns=(2,), dup_ns=(2,), eager=False)
    assert len(_LAZY_NGRAM_CACHES) == 1       # ownership transferred
    cached = _LAZY_NGRAM_CACHES[0]
    assert sorted(map(tuple, lazy.collect())) == want
    assert cached.is_cached
    assert release_ngram_repetition_caches() == 1
    assert not cached.is_cached
    assert not _LAZY_NGRAM_CACHES             # pool drained
    assert release_ngram_repetition_caches() == 0   # idempotent


# --- r11: PNG pixel decode + perceptual image hashes ------------------------

def test_png_pixel_roundtrip_all_types():
    """r11: full PNG decode — encoder cycles all five scanline filters
    per image, so a bit-exact round-trip pins None/Sub/Up/Average/
    Paeth defiltering across gray / RGB / RGBA / palette images."""
    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    rng = np.random.RandomState(7)
    for ch, ctype in ((1, "gray"), (3, "rgb"), (4, "rgba")):
        px = rng.randint(0, 256, size=(13, 11, ch)).astype(np.uint8)
        dec = mm.png_decode_pixels(mm.png_encode(px))
        assert dec is not None and dec.shape == px.shape, ctype
        assert (dec == px).all(), ctype
    # palette: decode resolves indexes through PLTE to RGB
    idx = rng.randint(0, 16, size=(9, 9, 1)).astype(np.uint8)
    pal = bytes(rng.randint(0, 256, size=48).astype(np.uint8))
    dec = mm.png_decode_pixels(mm.png_encode(idx, palette=pal))
    want = np.frombuffer(pal, np.uint8).reshape(-1, 3)[idx[:, :, 0]]
    assert (dec == want).all()


def test_decode_image_pixels_backend_contract():
    """The pure decoders' deterministic contract (what the registry
    oracle runs): PNG decodes, junk is None, a headers-only JPEG is
    None and real baseline/progressive JPEGs decode."""
    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    px = np.arange(27, dtype=np.uint8).reshape(3, 3, 3)
    png = mm.png_encode(px)
    jpeg = mm.build_png_blob(13)  # the fixture's minimal valid JPEG
    assert (mm.decode_image_pixels(png) == px).all()
    assert mm.decode_image_pixels(b"junk") is None
    # r12: baseline JPEG decodes FOR REAL on the pure path; the
    # headers-only fixture plant (no scan) is None → ok=false, and a
    # real encoded blob round-trips within quantization error
    assert mm.decode_image_pixels(jpeg) is None
    real = mm.jpeg_encode(np.full((8, 8, 1), 130, np.uint8))
    assert (mm.decode_image_pixels(real) == 130).all()
    # r13: progressive is REAL — the headers-only fixture relabeled
    # SOF2 has no scan data, so it's corrupt → None (not a raise); a
    # genuinely progressive encode decodes to the baseline's pixels
    sof2 = jpeg.replace(b"\xff\xc0", b"\xff\xc2")
    assert mm.decode_image_pixels(sof2) is None
    prog = mm.jpeg_encode(np.full((8, 8, 1), 130, np.uint8), progressive=True)
    assert (mm.decode_image_pixels(prog) == 130).all()


def test_png_decode_malformed_and_stub():
    """r11: corrupt PNGs → None; interlaced → None (unsupported, not
    wrong); JPEG-tier formats → NotImplementedError (the documented
    codec stub); non-image bytes → None."""
    import numpy as np
    import pytest as _pytest

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    px = np.zeros((4, 4, 1), dtype=np.uint8)
    blob = mm.png_encode(px)
    assert mm.png_decode_pixels(blob[:20]) is None          # truncated
    assert mm.png_decode_pixels(b"not an image") is None
    bad_crc_body = bytearray(blob)
    bad_crc_body[-5] ^= 0xFF  # corrupt inside IEND CRC — still parses
    interlaced = bytearray(blob)
    interlaced[28] = 1  # IHDR interlace flag
    assert mm.png_decode_pixels(bytes(interlaced)) is None
    jpeg = mm.build_png_blob(13)  # 13 % 13 == 0 → JPEG fixture
    with _pytest.raises(NotImplementedError):
        mm.png_decode_pixels(jpeg)
    # zlib garbage inside a well-formed chunk layout
    broken = blob.replace(b"IDAT", b"IDAT")  # keep layout, nuke stream
    broken = broken[:41] + bytes(8) + broken[49:]
    assert mm.png_decode_pixels(broken) is None


def test_image_hash_known_values():
    """r11: hash definitions on hand-computable images — a constant
    image has every aHash bit set (cell >= mean) and dHash 0 (no
    descending gradient); a strictly decreasing horizontal gradient
    has dHash all-ones."""
    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    const = np.full((16, 16, 1), 77, dtype=np.uint8)
    assert mm.image_ahash(const) == 0xFFFFFFFFFFFFFFFF
    assert mm.image_dhash(const) == 0
    desc = (255 - np.arange(16) * 16).clip(0, 255).astype(np.uint8)
    grad = np.repeat(desc[None, :], 16, axis=0)[:, :, None]
    assert mm.image_dhash(grad) == 0xFFFFFFFFFFFFFFFF
    asc = np.arange(16, dtype=np.uint8) * 16
    grad2 = np.repeat(asc[None, :], 16, axis=0)[:, :, None]
    assert mm.image_dhash(grad2) == 0
    # luma ignores alpha: RGBA and RGB of the same colors hash equal
    rgb = np.random.RandomState(3).randint(
        0, 256, size=(16, 16, 3)
    ).astype(np.uint8)
    rgba = np.dstack([rgb, np.full((16, 16), 9, np.uint8)])
    assert mm.image_ahash(rgb) == mm.image_ahash(rgba)
    assert mm.image_dhash(rgb) == mm.image_dhash(rgba)


def test_hamming64_matches_python(spark):
    """r11: the Catalyst band-XOR-popcount Hamming equals Python's
    bit_count on the full 64-bit values."""
    import random

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    rng = random.Random(11)
    rows = [
        (i, rng.getrandbits(64), rng.getrandbits(64)) for i in range(50)
    ]
    df = spark.createDataFrame(
        [(i, format(a, "016x"), format(b, "016x")) for i, a, b in rows],
        "i long, ha string, hb string",
    )
    got = {
        r["i"]: r["d"]
        for r in df.select(
            "i", mm.hamming64(F.col("ha"), F.col("hb")).alias("d")
        ).collect()
    }
    for i, a, b in rows:
        assert got[i] == bin(a ^ b).count("1"), i


def test_image_phash_dedup_clusters(spark):
    """r11: end-to-end image near-dup dedup on planted blobs — exact
    duplicates, a bottom-rows-perturbed near-duplicate, and distinct
    patterns; clusters = base-pattern classes with min-id labels, and
    undecodable blobs are dropped."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm

    def blob(cls):
        px, pal = mm._png_fixture_pixels(cls)
        return mm.png_encode(px, pal)

    rows = [
        (1, blob(2)), (2, blob(2)),          # exact dups
        (3, blob(14)),                       # near-dup of class 2
        (4, blob(5)), (5, blob(17)),         # class 5 base + variant
        (6, blob(7)),                        # singleton
        (7, b"garbage"),                     # undecodable → dropped
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {
        r["id"]: r["cluster"]
        for r in mm.image_phash_dedup(df).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4, 6: 6}


def test_image_phash_dedup_custom_id_col_and_bands(spark):
    """r12 (ADVICE): image_pixel_hashes/image_phash_dedup must honor a
    non-default id_col (the pandas fn used to KeyError on anything but
    "id"), and n_bands must actually reach the LSH banding (it was
    silently ignored; 8 narrower bands still find the planted
    low-band near-dups)."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm

    def blob(cls):
        px, pal = mm._png_fixture_pixels(cls)
        return mm.png_encode(px, pal)

    rows = [(1, blob(2)), (2, blob(2)), (3, blob(14)), (4, blob(5))]
    df = spark.createDataFrame(rows, "blob_key long, content binary")
    hashes = mm.image_pixel_hashes(df, id_col="blob_key").collect()
    assert {r["id"] for r in hashes} == {1, 2, 3, 4}
    assert all(r["ok"] for r in hashes)
    got = {
        r["id"]: r["cluster"]
        for r in mm.image_phash_dedup(
            df, id_col="blob_key", n_bands=8
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_image_phash_dedup_ahash_probe_recall(spark):
    """r12: recall escalation for band-straddling pairs.  The planted
    variant differs from its base in exactly 4 dHash bits, ONE PER
    16-bit BAND (a gradient flip in cell column 0 of rows 0/2/4/6),
    with identical aHash — so dHash-band LSH provably misses the pair
    while the aHash probe buckets them together; Hamming verify (4 ≤
    6) then merges.  Pins: construction invariants, default miss,
    probe hit."""
    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    def cells_to_px(vals):
        px = np.zeros((16, 18, 1), np.uint8)
        for r in range(8):
            for c in range(9):
                px[2 * r: 2 * r + 2, 2 * c: 2 * c + 2, 0] = vals[r][c]
        return px

    base_vals = [[10 + 20 * c for c in range(9)] for _ in range(8)]
    var_vals = [row[:] for row in base_vals]
    for r in (0, 2, 4, 6):
        var_vals[r][0] = 35  # > cell[r][1]=30 → flips dhash bit (r,0)
    base, var = cells_to_px(base_vals), cells_to_px(var_vals)

    dh_b, dh_v = mm.image_dhash(base), mm.image_dhash(var)
    assert bin(dh_b ^ dh_v).count("1") == 4
    for band in range(4):  # every 16-bit band differs → dHash LSH miss
        shift = 48 - 16 * band
        assert (dh_b >> shift) & 0xFFFF != (dh_v >> shift) & 0xFFFF, band
    assert mm.image_ahash(base) == mm.image_ahash(var)

    df = spark.createDataFrame(
        [(1, mm.png_encode(base)), (2, mm.png_encode(var))],
        "id long, content binary",
    )
    missed = {
        r["id"]: r["cluster"] for r in mm.image_phash_dedup(df).collect()
    }
    assert missed == {1: 1, 2: 2}  # documented dHash-band blind spot
    probed = {
        r["id"]: r["cluster"]
        for r in mm.image_phash_dedup(df, probe_ahash=True).collect()
    }
    assert probed == {1: 1, 2: 1}


def test_wav_pcm_decode_and_features(spark):
    """r12: real WAV PCM16 sample decode — bit-exact encode/decode
    round-trip across all 8 fixture classes (mono + stereo, three
    rates), hand-checked integer features (incl. the |−32768| = 32768
    int64 edge and the x ≥ 0 zero-crossing convention), word-aligned
    odd-length chunk walk, and the operator's planted failure modes
    (truncated → ok=false, IEEE-float → the documented stub)."""
    import numpy as np
    import pytest as _pytest

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    for cls in range(8):
        rate, ch, arr = mm._wav_fixture_samples(cls)
        r2, c2, dec = mm.wav_decode_samples(mm.wav_encode(rate, arr))
        assert (r2, c2) == (rate, ch) and (dec == arr).all(), cls

    # hand-computed features: [-32768, 0, 1, -1] → peak 32768 (int64,
    # would overflow int16 abs), abs_sum 32770, crossings at 0→0? the
    # x>=0 convention: signs are [F,T,T,F] → 2 flips
    arr = np.array([[-32768], [0], [1], [-1]], dtype=np.int16)
    assert mm.audio_pcm_metrics(arr) == (4, 32768, 32770, 2)
    # empty data chunk
    assert mm.audio_pcm_metrics(np.zeros((0, 2), np.int16)) == (0, 0, 0, 0)

    # odd-length chunk before data must be pad-byte aligned (RIFF §4)
    rate, _, arr = mm._wav_fixture_samples(0)
    blob = mm.wav_encode(rate, arr)
    odd = (blob[:12] + b"junk" + (3).to_bytes(4, "little") + b"abc\x00"
           + blob[12:])
    odd = b"RIFF" + (len(odd) - 8).to_bytes(4, "little") + odd[8:]
    r2, c2, dec = mm.wav_decode_samples(odd)
    assert (dec == arr).all()

    with _pytest.raises(NotImplementedError):
        mm.wav_decode_samples(mm.build_wav_blob(13))   # MP3-in-RIFF
        # (fmt 0x55): the residual compressed stub now that float32/
        # G.711 and both ADPCM families decode for real
    assert mm.wav_decode_samples(mm.build_wav_blob(17)) is None
    assert mm.wav_decode_samples(b"RIFFxxxxJUNK") is None
    assert mm.wav_decode_samples(b"not audio") is None

    # operator end-to-end: good rows carry exact features, planted
    # failures flag ok=false with zeroed features
    df = spark.createDataFrame([(i,) for i in (1, 13, 17, 2)], "doc_id long")
    got = {
        r["id"]: r
        for r in mm.audio_pcm_features(mm.attach_wav_blob(df)).collect()
    }
    r1, c1, a1 = mm._wav_fixture_samples(1)
    n, peak, abs_sum, zc = mm.audio_pcm_metrics(a1)
    assert (got[1]["sample_rate"], got[1]["n_channels"]) == (r1, c1)
    assert (got[1]["n_frames"], got[1]["peak"], got[1]["abs_sum"],
            got[1]["zero_crossings"]) == (n, peak, abs_sum, zc)
    assert got[1]["duration_ms"] == n * 1000 // r1
    assert got[1]["ok"] and got[2]["ok"]
    assert not got[13]["ok"] and not got[17]["ok"]
    assert got[13]["abs_sum"] == 0


def test_audio_hash_dedup_clusters(spark):
    """r12: audio near-dup dedup end-to-end — the fixture margin
    contract (pairwise base-pattern Hamming ≥ 25; each variant exactly
    3 bits from its base, confined to the LAST band so banded-LSH
    recall is guaranteed), decoded-hash == pattern, and the expected
    min-id clustering with exact dups, a near-dup variant, and an
    undecodable row dropped."""
    import itertools

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    pats = [mm._wav_dedup_pattern(c) for c in range(8)]
    assert min(
        bin(a ^ b).count("1") for a, b in itertools.combinations(pats, 2)
    ) >= 25
    for c in range(8):
        v = pats[c] ^ mm._WAV_DEDUP_FLIP
        assert bin(pats[c] ^ v).count("1") == 3
        assert (pats[c] >> 16) == (v >> 16)  # last band only
        _, _, arr = mm._wav_dedup_samples(c)
        assert mm.audio_envelope_hash(arr) == pats[c]

    def blob(cls):
        return mm.build_wav_dedup_blob(cls)

    rows = [
        (1, blob(2)), (2, blob(2)),   # exact dups (class 2)
        (3, blob(10)),                # class 2's perturbed variant
        (4, blob(5)),                 # different class -> singleton
        (5, b"not audio"),            # undecodable -> dropped
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {
        r["id"]: r["cluster"] for r in mm.audio_hash_dedup(df).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_gif_lzw_decode_roundtrip(spark):
    """r12: hand-rolled GIF LZW + full GIF decode — encoder/decoder
    round trips across code widths (dictionary growth, the
    early-change width synchronization, the 4096-table reset on a
    long low-entropy stream), interlaced and non-interlaced frames,
    palette resolution, malformed inputs, and the operator
    integration (GIF now hashes ok=true on the PURE backend while
    JPEG stays the stub)."""
    import random

    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    rng = random.Random(5)
    for trial in range(40):
        mcs = rng.choice([2, 3, 4, 7, 8])
        n = rng.randint(1, 2000)
        if trial % 3 == 0:
            seq = [v % (1 << mcs) for v in ([1, 2, 3, 4] * n)[:n]]
        else:
            seq = [rng.randrange(1 << mcs) for _ in range(n)]
        assert mm._lzw_decode(mm._lzw_encode(seq, mcs), mcs, n) == seq, trial
    long_seq = [i % 4 for i in range(120_000)]  # forces the 4096 reset
    assert mm._lzw_decode(
        mm._lzw_encode(long_seq, 2), 2, len(long_seq)
    ) == long_seq

    nrng = np.random.RandomState(9)
    for hh, ww, nc in ((13, 11, 4), (16, 16, 16), (40, 40, 128)):
        idx = nrng.randint(0, nc, size=(hh, ww)).astype(np.uint8)
        pal = bytes(nrng.randint(0, 256, size=3 * nc).astype(np.uint8))
        want = np.frombuffer(pal, np.uint8).reshape(-1, 3)[idx]
        for inter in (False, True):
            dec = mm.gif_decode_pixels(mm.gif_encode(idx, pal, inter))
            assert (dec == want).all(), (hh, ww, nc, inter)

    assert mm.gif_decode_pixels(b"GIF89a\x00") is None
    assert mm.gif_decode_pixels(b"not a gif") is None
    assert mm.gif_decode_pixels(mm.build_gif_blob(17)) is None  # truncated

    # operator integration: pure backend hashes GIFs, interlace parity
    # classes hash identically, failure plants flag ok=false
    df = spark.createDataFrame([(i,) for i in (2, 3, 14, 13, 17)], "doc_id long")
    got = {
        r["id"]: r
        for r in mm.image_pixel_hashes(mm.attach_gif_blob(df)).collect()
    }
    assert got[2]["ok"] and got[3]["ok"] and got[14]["ok"]
    assert got[2]["dhash"] == got[14]["dhash"]  # both class 2 (14 % 12)
    assert not got[13]["ok"] and not got[17]["ok"]


def test_bmp_decode_roundtrip(spark):
    """r12: real BMP decode — 24-bit round trips in BOTH row orders
    (bottom-up and top-down DIBs), 8-bit palette resolution through
    BGRA quads, row padding, the RLE stub, malformed handling, and
    operator integration (row-order twins hash identically)."""
    import struct as _struct

    import numpy as np
    import pytest as _pytest

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    rng = np.random.RandomState(4)
    for hh, ww in ((13, 11), (16, 16), (7, 33)):
        px = rng.randint(0, 256, size=(hh, ww, 3)).astype(np.uint8)
        for bu in (True, False):
            dec = mm.bmp_decode_pixels(mm.bmp_encode(px, bottom_up=bu))
            assert (dec == px).all(), (hh, ww, bu)

    # hand-built 8-bit paletted BMP: 2×2 indexes through BGRA quads
    pal = bytes([10, 20, 30, 0, 200, 150, 100, 0])  # BGRA × 2
    rows = bytes([0, 1, 0, 0]) + bytes([1, 0, 0, 0])  # stride 4
    dib = _struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 8, 0, 8, 0, 0, 2, 0)
    blob = (b"BM" + _struct.pack("<IHHI", 54 + 8 + 8, 0, 0, 62)
            + dib + pal + rows)
    dec = mm.bmp_decode_pixels(blob)
    # bottom-up: stored row 0 is the BOTTOM pixel row
    assert dec.shape == (2, 2, 3)
    assert list(dec[1, 0]) == [30, 20, 10] and list(dec[1, 1]) == [100, 150, 200]
    assert list(dec[0, 0]) == [100, 150, 200] and list(dec[0, 1]) == [30, 20, 10]

    # r13: RLE8 decode is REAL now, so the %13 relabel plant (an
    # 8-bit/RLE8 header over a paletteless BI_RGB body) is detected
    # as corrupt → None instead of the old stub raise; RLE4 keeps the
    # honest raise (pinned in test_png_adam7_and_bmp_rle8)
    assert mm.bmp_decode_pixels(mm.build_bmp_blob(13)) is None
    assert mm.bmp_decode_pixels(mm.build_bmp_blob(17)) is None
    assert mm.bmp_decode_pixels(b"BMshort") is None

    df = spark.createDataFrame([(i,) for i in (2, 3, 14, 13, 17)], "doc_id long")
    got = {
        r["id"]: r
        for r in mm.image_pixel_hashes(mm.attach_bmp_blob(df)).collect()
    }
    assert got[2]["ok"] and got[3]["ok"]
    assert got[2]["dhash"] == got[14]["dhash"]  # class 2, both row orders
    assert not got[13]["ok"] and not got[17]["ok"]


def test_jpeg_baseline_codec_roundtrip(spark):
    """r12: real baseline JPEG — encode/decode round trips within
    quantization error for gray, RGB 4:4:4 and RGB 4:2:0 (smooth
    content tight, noise crushed as JPEG should), bit-determinism of
    repeated decodes, prefix-truncation fuzz never raising, the
    progressive stub, and operator integration over the fixture
    classes with both failure plants."""
    import numpy as np
    import pytest as _pytest

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    grad = np.stack([
        (np.add.outer(np.arange(24) * 2, np.arange(40)) % 256),
        (np.add.outer(np.arange(24), np.arange(40) * 3) % 256),
        np.full((24, 40), 90),
    ], axis=2).astype(np.uint8)
    gray = (np.add.outer(np.arange(24) * 3, np.arange(40) * 2) % 256).astype(
        np.uint8
    )[:, :, None]
    for px, sub, bound in ((gray, False, 8), (grad, False, 12), (grad, True, 16)):
        blob = mm.jpeg_encode(px, subsample=sub)
        dec = mm.jpeg_decode_pixels(blob)
        assert dec is not None and dec.shape == px.shape
        err = int(np.abs(dec.astype(int) - px.astype(int)).max())
        assert err <= bound, (sub, err)
        assert (mm.jpeg_decode_pixels(blob) == dec).all()  # deterministic
    flat = mm.jpeg_encode(np.full((8, 8, 1), 130, np.uint8))
    assert (mm.jpeg_decode_pixels(flat) == 130).all()  # DC-only exact

    blob = mm.build_jpeg_blob(2)
    for cut in range(0, len(blob), 5):  # any truncation → None, never raise
        try:
            assert mm.jpeg_decode_pixels(blob[:cut]) is None or cut == len(blob)
        except NotImplementedError:
            pass
    # r13: SOF2 is REAL now, so the %13 marker-flip plant (baseline
    # full-band scan relabeled progressive — an ILLEGAL scan header)
    # is detected as corrupt → None, not the old stub raise
    assert mm.jpeg_decode_pixels(mm.build_jpeg_blob(13)) is None
    assert mm.jpeg_decode_pixels(mm.build_jpeg_blob(17)) is None

    df = spark.createDataFrame([(i,) for i in (1, 2, 3, 13, 17)], "doc_id long")
    got = {
        r["id"]: r
        for r in mm.image_pixel_hashes(mm.attach_jpeg_blob(df)).collect()
    }
    assert got[1]["ok"] and got[2]["ok"] and got[3]["ok"]
    assert got[3]["channels"] == 1  # 3 % 3 == 0 → grayscale class
    assert not got[13]["ok"] and not got[17]["ok"]


#: ``build_jpeg_blob(10)`` with three bytes overwritten; one lands in
#: the SOF0 sampling byte of component 3 (0x11 → 0x10: H=1, V=0)
_JPEG_V0_MUTANT = bytes.fromhex(
    "ffd8ffdb004300100b0c0e0c0a100e0d0e1211101318281a181616183123251d"
    "283a333d3c9233383740485c4e404457453738506d51575f626768673e4d7179"
    "7064785c656763ffdb0043011112121815182f1a1a2f63423842636363636363"
    "6363636363636363636363636363636363636363636363636363636363636363"
    "636363636363636363636363ffc00011080010001003011100021101031001ff"
    "c4001f0000010501010101010100000000000000000102030405060708090a0b"
    "ffc400b5100002010303020403050504040000017d0102030004110512213141"
    "0613516107227114328191a1082342b1c11552d1f02433627282090a16171819"
    "1a25262728292a3435363738393a434445464748494a535455565758595a6364"
    "65666768696a737475767778797a838485868788898a92939495969798999aa2"
    "a3a4a5a6a7a8a9aab2b3b4b5b6b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7"
    "d8d9dae1e2e3e4e5e6e7e8e9eaf1f2f3f4f5f6f7f8f9faffc4001f0100030101"
    "010101010101010000000000000102030405060708090a0bffc400b511000201"
    "0204040304070504040001027700010203110405213106124151076171132232"
    "8108144291a1b1c109233352f0156272d10a162434e125f11718191a26272829"
    "2a35323738393a434445464748494a535455565758595a636465666768696a73"
    "7475767778797a82838485868788898a92939495969798999aa2a3a4a5a6a7a8"
    "a9aab2b3b4b5b6b7b8b9bac2c3c4c5c6c7c8c9cad2d3d4d5d6d7d8d9dae2e3e4"
    "e5e6e7e8e9eaf2f3f4f5f6f7f8f9faffda000c03010002110311003f00e734fb"
    "5e9c56b570e45581d3e9f6bd38af32ae1cf36ac0cdb051c6109fad7af88cc60b"
    "e0837eba7f99f4352833a7d3d7a7eeff005af22ae65ff4eff1ff008079d5681f"
    "ffd9"
)


def test_jpeg_zero_sampling_factor_is_rejected():
    """A SOF component with sampling factor 0 used to raise
    ZeroDivisionError at upsampling, which the decoder's error net
    does not catch, so one such image failed the whole query.
    T.81 B.2.2 allows only 1..4: the frame is refused (None)."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm

    assert mm.jpeg_decode_pixels(_JPEG_V0_MUTANT) is None
    base = mm.build_jpeg_blob(10)
    sof = base.index(b"\xff\xc0")
    for i, hv in ((11, 0x01), (14, 0x51), (17, 0x15), (11, 0x00)):
        bad = bytearray(base)
        bad[sof + i] = hv
        assert mm.jpeg_decode_pixels(bytes(bad)) is None, (i, hex(hv))
    assert mm.jpeg_decode_pixels(base) is not None


def test_jpeg_progressive_codec_parity(spark):
    """r13: progressive JPEG (SOF2 spectral selection + successive
    approximation) and restart intervals — every wrapper mode carries
    the same quantized coefficients as baseline, so decode must be
    pixel-IDENTICAL to the baseline decode; EOB-run/ZRL/correction-bit
    paths exercised by multi-block frames; truncation fuzz never
    raises; fixture integration over all three wrapper modes."""
    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    # deterministic frames chosen to force the hairy entropy paths:
    # flat (long EOB runs across blocks), sparse spikes (ZRL + lone
    # high-frequency coefs), gradient (dense AC + refinement
    # correction bits), plus every fixture class
    flat = np.full((40, 48, 1), 129, np.uint8)
    spikes = np.full((32, 32, 1), 128, np.uint8)
    spikes[::7, ::5] = 250
    grad = np.stack([
        (np.add.outer(np.arange(24) * 2, np.arange(40)) % 256),
        (np.add.outer(np.arange(24), np.arange(40) * 3) % 256),
        np.full((24, 40), 90),
    ], axis=2).astype(np.uint8)
    frames = [(flat, False), (spikes, False), (grad, False), (grad, True)]
    frames += [
        (mm._jpeg_fixture_pixels(c),
         mm._jpeg_fixture_pixels(c).shape[2] == 3 and c % 2 == 1)
        for c in range(12)
    ]
    for i, (px, sub) in enumerate(frames):
        base = mm.jpeg_decode_pixels(mm.jpeg_encode(px, subsample=sub))
        for kw in (
            {"progressive": True},
            {"restart_interval": 2},
            {"progressive": True, "restart_interval": 3},
        ):
            blob = mm.jpeg_encode(px, subsample=sub, **kw)
            if kw.get("progressive"):
                assert b"\xff\xc2" in blob, (i, kw)
            if kw.get("restart_interval"):
                assert b"\xff\xdd" in blob, (i, kw)
            dec = mm.jpeg_decode_pixels(blob)
            assert dec is not None and np.array_equal(dec, base), (i, kw)

    # the flat frame's progressive AC scans are one long multi-block
    # EOB run — the blob coming out smaller than baseline pins that
    # EOBn run symbols actually occur, so the decoder's EOBRUN>1 path
    # is genuinely exercised above
    assert len(mm.jpeg_encode(flat, progressive=True)) < len(
        mm.jpeg_encode(flat)
    )

    # truncation fuzz across all wrapper modes: None or clean decode
    for kw in ({"progressive": True}, {"restart_interval": 1},
               {"progressive": True, "restart_interval": 1}):
        blob = mm.jpeg_encode(grad, subsample=True, **kw)
        for cut in range(0, len(blob), 3):
            mm.jpeg_decode_pixels(blob[:cut])  # must never raise

    # operator integration: wrapper modes 0/1/2 all ok with the SAME
    # hashes as the baseline fixture; %17 truncation plant flagged
    df = spark.createDataFrame([(i,) for i in (3, 4, 5, 17)], "doc_id long")
    got = {
        r["id"]: r
        for r in mm.image_pixel_hashes(
            mm.attach_jpeg_prog_blob(df)
        ).collect()
    }
    base_hash = {
        i: mm.image_ahash(mm.jpeg_decode_pixels(mm.build_jpeg_blob(i)))
        for i in (3, 4, 5)
    }
    for i in (3, 4, 5):
        assert got[i]["ok"], i
        assert got[i]["ahash"] == format(base_hash[i], "016x"), i
    assert not got[17]["ok"]


def test_cross_format_image_dedup(spark):
    """r12: the same picture as PNG and as JPEG must land in one
    cluster — fixture contract (pair dHash distance 0 through BOTH
    real decoders, cross-class ≥ 25) and the end-to-end merge."""
    import itertools

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    dh = {}
    for cls in range(8):
        px = mm._xfmt_fixture_pixels(cls)
        p = mm.image_dhash(mm.png_decode_pixels(mm.png_encode(px)))
        j = mm.image_dhash(mm.jpeg_decode_pixels(mm.jpeg_encode(px)))
        assert p == j, cls  # JPEG quant never flips a ±14 gradient
        dh[cls] = p
    assert min(
        bin(a ^ b).count("1")
        for a, b in itertools.combinations(dh.values(), 2)
    ) >= 25

    df = spark.createDataFrame([(i,) for i in (0, 1, 8)], "doc_id long")
    got = {
        r["id"]: r["cluster"]
        for r in mm.image_phash_dedup(
            mm.attach_xfmt_blobs(df), "content", "id"
        ).collect()
    }
    # docs 0 and 8 share class 0 → one 4-member cluster labelled 0
    assert got == {0: 0, 1: 0, 16: 0, 17: 0, 2: 2, 3: 2}


def test_png_fixture_margins():
    """r11: the dedup fixture contract the registry oracle rests on —
    every noisy variant within the threshold of its base with the
    difference confined to the LOW band (recall guaranteed by
    construction), every cross-class distance comfortably above it."""
    import itertools

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    dh = {}
    for cls in range(24):
        px, pal = mm._png_fixture_pixels(cls)
        dh[cls] = mm.image_dhash(mm.png_decode_pixels(mm.png_encode(px, pal)))
    for b in range(12):
        d = bin(dh[b] ^ dh[b + 12]).count("1")
        assert 1 <= d <= 6, (b, d)
        assert (dh[b] >> 16) == (dh[b + 12] >> 16), b  # low band only
    cross = min(
        bin(dh[i] ^ dh[j]).count("1")
        for i, j in itertools.combinations(range(24), 2)
        if i % 12 != j % 12
    )
    assert cross > 6, cross


# --- r11: jusText-style main-content extraction ------------------------------

def test_justext_context_pass(spark):
    """r11: paragraph classification end-to-end on crafted HTML — the
    context-free rules AND the definite-neighbor context pass: a
    neargood next to a good paragraph is rescued, a short heading
    BETWEEN two goods is rescued, edge/bad-flanked ones are not."""
    from dwc_dataframe_validator_spark.operators import web

    good_para = ("it was a good day and we were all of the opinion that "
                 "this is as it should have been for you and for them and "
                 "the rest of the people who were there on that day by "
                 "the sea with all of their friends")  # >160 chars, dense
    near_para = ("we were of the opinion that it was good for them")  # <160
    bad_para = "widget sprocket flange bracket gasket spindle manifold"
    html = (
        "<html><body>"
        '<div><a href="/">Home</a> <a href="/x">Products</a> '
        '<a href="/y">Blog</a></div>'
        f"<p>{good_para}</p>"
        "<h2>A heading here</h2>"      # short, between two goods → good
        f"<p>{good_para} extra</p>"
        f"<p>{near_para}</p>"          # neargood, next to good → good
        f"<p>{bad_para}</p>"
        f"<p>{near_para}</p>"          # neargood, flanked by bad → bad
        "<h3>Tail heading</h3>"        # short, good-then-edge → bad
        "</body></html>"
    )
    payload = (
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html
    )
    df = spark.createDataFrame([(1, payload)], "doc_id long, payload_text string")
    rows = web.justext_paragraphs(df).orderBy("para_pos").collect()
    got = [(r["para_text"][:12], r["cf_class"], r["final_class"]) for r in rows]
    assert got == [
        ("Home Product", "bad", "bad"),
        ("it was a goo", "good", "good"),
        ("A heading he", "short", "good"),      # rescued: goods both sides
        ("it was a goo", "good", "good"),
        ("we were of t", "neargood", "good"),   # rescued: good neighbor
        ("widget sproc", "bad", "bad"),
        ("we were of t", "neargood", "bad"),    # flanked by bad
        ("Tail heading", "short", "bad"),       # edge counts as not-good
    ], got

    # doc rollup stitches the good paragraphs in order
    main = web.wet_main_content(df).collect()[0]
    assert main["n_paras_total"] == 8 and main["n_paras_good"] == 4
    assert main["main_text"].startswith("it was a good day")
    assert "A heading here" in main["main_text"]
    assert "widget" not in main["main_text"]

    # non-HTML / non-2xx payloads yield no paragraphs
    other = spark.createDataFrame(
        [(2, "HTTP/1.1 404 NF\r\nContent-Type: text/html\r\n\r\n<p>x</p>"),
         (3, "not http at all")],
        "doc_id long, payload_text string",
    )
    assert web.justext_paragraphs(other).count() == 0


def test_robots_parse_and_filter(spark):
    """r12: Robots Exclusion Protocol — parsing (mixed-case keys,
    comments, unknown directives, empty Disallow dropped, consecutive
    User-agent lines sharing one group) and filtering (agent group
    REPLACES *, longest-match with allow winning ties, $ and *
    pattern forms, unknown hosts and invalid URLs passing)."""
    from dwc_dataframe_validator_spark.operators import web

    robots = spark.createDataFrame(
        [(
            "ex.com",
            "# hi\nUSER-AGENT: *\nUser-agent: OtherBot\n"
            "Disallow: /a/\nallow: /a/b/\nCrawl-delay: 9\n\n"
            "User-agent: GoodBot\nDisallow: /g*\nDisallow:\n",
        )],
        "host string, robots_txt string",
    )
    rules = sorted(tuple(r) for r in web.parse_robots(robots).collect())
    assert rules == [
        ("ex.com", "*", False, "/a/"),
        ("ex.com", "*", True, "/a/b/"),
        ("ex.com", "goodbot", False, "/g*"),
        ("ex.com", "otherbot", False, "/a/"),
        ("ex.com", "otherbot", True, "/a/b/"),
    ]

    rules_df = web.parse_robots(robots)
    urls = spark.createDataFrame(
        [
            (1, "http://ex.com/a/x"),        # * : blocked
            (2, "http://ex.com/a/b/x"),      # * : allow override (longer)
            (3, "http://ex.com/gone"),       # * : no match -> kept
            (4, "http://other.com/a/x"),     # unknown host -> kept
            (5, "not a url"),                # invalid -> kept
            (6, "HTTP://EX.COM/a/y"),        # case-folded host -> blocked
        ],
        "doc_id long, url string",
    )
    kept_star = {
        r["doc_id"] for r in web.robots_filter(urls, rules_df).collect()
    }
    assert kept_star == {2, 3, 4, 5}
    # GoodBot's own group replaces *: /a/ is fine, /g* is not
    kept_good = {
        r["doc_id"]
        for r in web.robots_filter(urls, rules_df, agent="GoodBot").collect()
    }
    assert kept_good == {1, 2, 4, 5, 6}
    # empty rule table: everything passes
    empty = rules_df.filter("1 = 0")
    assert web.robots_filter(urls, empty).count() == 6

    # the $ form, via the shared regex translation on both faces
    import re

    assert re.match(web.robots_rule_regex_py("/*.json$"), "/d/f.json")
    assert not re.match(web.robots_rule_regex_py("/*.json$"), "/f.jsonl")


def test_justext_published_revision_exceptions(spark):
    """r12: the PUBLISHED jusText revision details the old
    single-pass simplification missed — the mixed-neighbor short with
    a neargood on its bad side is rescued (justext core's "good on
    one side, neargood on the other" exception, both directions), the
    neargood then absorbs through the REVISED short (step-2 neighbors
    are post-step-1), and the control without an adjacent neargood
    stays bad."""
    from dwc_dataframe_validator_spark.operators import web

    good_para = ("it was a good day and we were all of the opinion that "
                 "this is as it should have been for you and for them and "
                 "the rest of the people who were there on that day by "
                 "the sea with all of their friends")
    near_para = "we were of the opinion that it was good for them"
    bad_para = "widget sprocket flange bracket gasket spindle manifold"

    def doc(doc_id, paras):
        html = "<html><body>" + "".join(f"<p>{p}</p>" for p in paras) + \
            "</body></html>"
        return (doc_id,
                "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + html)

    df = spark.createDataFrame(
        [
            # A: good, SHORT, neargood, bad — short's definite next
            # (skipping neargood) is bad → mixed; the neargood on the
            # bad side fires the exception; the neargood then sees the
            # REVISED short (good) as its step-2 left neighbor
            doc(1, [good_para, "Section header", near_para, bad_para]),
            # B: mirror — exception fires on the prev side
            doc(2, [bad_para, near_para, "Section header", good_para]),
            # control: mixed neighbors, NO adjacent neargood → bad
            doc(3, [good_para, "Section header", bad_para]),
        ],
        "doc_id long, payload_text string",
    )
    rows = web.justext_paragraphs(df).collect()
    got = {
        (r["doc_id"], r["para_pos"]): (r["cf_class"], r["final_class"])
        for r in rows
    }
    assert got[(1, 1)] == ("short", "good")      # exception (next side)
    assert got[(1, 2)] == ("neargood", "good")   # via the revised short
    assert got[(2, 2)] == ("short", "good")      # exception (prev side)
    assert got[(2, 1)] == ("neargood", "good")
    assert got[(3, 1)] == ("short", "bad")       # control: no exception


def test_avi_mjpeg_video_tier(spark):
    """r13: the first REAL video tier — MJPEG-in-AVI RIFF walk,
    per-frame JPEG decode, frame sampling through sample_frames'
    codec-free branch, near-dup clustering across
    baseline/progressive re-encodes, honest non-MJPG raise, and
    truncation fuzz."""
    import itertools

    import pytest as _pytest

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    # container round-trip: frames out == frames in, byte-exact
    frames_px = mm._avi_fixture_frames(2)
    frames = [mm.jpeg_encode(px) for px in frames_px]
    blob = mm.avi_mjpeg_encode(frames, frames_px[0].shape[1],
                               frames_px[0].shape[0])
    assert mm.avi_mjpeg_frames(blob) == frames

    # per-class signature: both wrappers identical, classes >= 25 apart
    sig = {}
    for did in range(24):
        if did % 17 == 0:
            continue
        f = mm.avi_mjpeg_frames(mm.build_avi_blob(did))
        sig.setdefault(did % 6, set()).add(
            mm.image_dhash(mm.jpeg_decode_pixels(f[0]))
        )
    assert all(len(s) == 1 for s in sig.values())  # re-encode merge
    vals = [next(iter(s)) for s in sig.values()]
    assert min(
        bin(a ^ b).count("1")
        for a, b in itertools.combinations(vals, 2)
    ) >= 25

    # non-MJPG vids handler: honest NotImplementedError
    h264 = blob.replace(b"vidsMJPG", b"vidsH264")
    with _pytest.raises(NotImplementedError):
        mm.avi_mjpeg_frames(h264)

    # per-blob frame dispatch: the codec-free MJPEG path decodes every
    # sampled frame; containers that need an external codec (a
    # non-MJPG AVI, MP4/ISO-BMFF) yield no frames, and the operator
    # flags each with one ok=false row
    px = mm._video_blob_frame_pixels(blob, 4)
    assert len(px) == len(frames) and all(p is not None for p in px)
    with _pytest.raises(NotImplementedError):
        mm._video_blob_frame_pixels(h264, 4)
    mp4ish = bytes(4) + b"ftyp" + b"isom" + bytes(64)
    assert mm._video_blob_frame_pixels(mp4ish, 4) is None
    codec = spark.createDataFrame(
        [(1, bytearray(h264)), (2, bytearray(mp4ish))],
        "id long, content binary",
    )
    assert [tuple(r) for r in mm.video_frame_hashes(codec).orderBy("id")
            .collect()] == [
        (i, None, None, 0, 0, None, None, False) for i in (1, 2)
    ]

    # truncation fuzz never raises (beyond the honest codec tier)
    for cut in range(0, len(blob), 5):
        try:
            mm.avi_mjpeg_frames(blob[:cut])
        except NotImplementedError:
            pass

    # sample_frames' codec-free AVI branch returns the raw JPEG frame
    # bytes; corrupt AVI -> zero frames
    df = spark.createDataFrame([(5,), (17,)], "doc_id long")
    rows = mm.sample_frames(mm.attach_avi_blob(df), fake=False).collect()
    got = {(r["id"], r["frame_idx"]): bytes(r["frame_bytes"]) for r in rows}
    want = mm.avi_mjpeg_frames(mm.build_avi_blob(5))
    assert len(got) == len(want)  # id 17 truncated -> zero frames
    for k, fb in enumerate(want):
        assert got[(5, k)] == fb

    # video_frame_hashes operator: ok rows for every sampled frame,
    # one flagged row for the truncation plant
    vdf = spark.createDataFrame([(2,), (8,), (17,)], "doc_id long")
    out = {(r["id"], r["frame_idx"]): r
           for r in mm.video_frame_hashes(mm.attach_avi_blob(vdf)).collect()}
    assert out[(2, 0)]["ok"] and out[(8, 0)]["ok"]
    # 2 and 8 are the same class under different wrappers: same hashes
    assert out[(2, 0)]["dhash"] == out[(8, 0)]["dhash"]
    assert out[(17, None)]["ok"] is False

    # near-dup end to end: wrappers of one class merge to min id
    ndf = spark.createDataFrame([(1,), (7,), (2,)], "doc_id long")
    clusters = {r["id"]: r["cluster"]
                for r in mm.video_near_dup(mm.attach_avi_blob(ndf)).collect()}
    assert clusters[1] == clusters[7] == 1  # same class, two wrappers
    assert clusters[2] == 2                 # different class stays apart


def test_decode_kernel_equivalence_runs_everywhere():
    """r13: backend-equivalence pins that RUN in this container (the
    PIL pins skip without PIL — verdict task): the vectorized decode
    kernels must be bit-identical to naive spec-shaped references
    implemented independently here.

    1. einsum batched IDCT (the round-13 JPEG pixel pass) vs an
       explicit per-block C.T @ dq @ C loop, float64-exact;
    2. the production PNG defilter (cumsum Sub, vectorized Up, list
       Average/Paeth) vs a straight-from-spec scalar defilter, over
       streams that exercise every filter type and a multi-channel
       bpp."""
    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    ctx = mm._jpeg_ctx()
    C = ctx["C"]
    rng = np.random.default_rng(13)
    dq = rng.integers(-2048, 2048, size=(5, 7, 8, 8)).astype(np.float64)
    fast = np.einsum("ki,yxkl,lj->yxij", C, dq, C)
    slow = np.empty_like(fast)
    for y in range(dq.shape[0]):
        for x in range(dq.shape[1]):
            slow[y, x] = C.T @ dq[y, x] @ C
    # einsum reorders float summation, so raw float64 agreement is
    # only to ~1e-10 relative — what must MATCH EXACTLY is the
    # rounded/clipped uint8 pixel grid the hash tier consumes (and
    # the registry oracles pin constants through the same einsum
    # path, so engine == oracle structurally either way)
    assert np.allclose(fast, slow, rtol=1e-10, atol=1e-8)
    f8 = np.clip(np.round(fast + 128.0), 0, 255).astype(np.uint8)
    s8 = np.clip(np.round(slow + 128.0), 0, 255).astype(np.uint8)
    assert np.array_equal(f8, s8)

    # reference defilter, scalar, straight from PNG spec §9
    def ref_defilter(raw, h, w, stride, bpp):
        out = [[0] * stride for _ in range(h)]
        for y in range(h):
            f = raw[y * (stride + 1)]
            row = raw[y * (stride + 1) + 1: (y + 1) * (stride + 1)]
            for x in range(stride):
                a = out[y][x - bpp] if x >= bpp else 0
                b2 = out[y - 1][x] if y else 0
                c = out[y - 1][x - bpp] if (y and x >= bpp) else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b2
                elif f == 3:
                    pred = (a + b2) // 2
                else:
                    p = a + b2 - c
                    pa, pb, pc = abs(p - a), abs(p - b2), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b2 if pb <= pc else c)
                out[y][x] = (row[x] + pred) & 255
        return np.array(out, dtype=np.uint8)

    for bpp, w, h in ((1, 9, 12), (3, 7, 11), (4, 5, 10)):
        stride = w * bpp
        px = rng.integers(0, 256, size=(h, stride)).astype(np.uint8)
        # forward-filter with every type cycling per row (like
        # png_encode) to build a stream both defilters must invert
        raw = bytearray()
        prev = np.zeros(stride, dtype=np.int32)
        for y in range(h):
            f = y % 5
            cur = px[y].astype(np.int32)
            left = np.concatenate([np.zeros(bpp, np.int32), cur[:-bpp]])
            upleft = np.concatenate([np.zeros(bpp, np.int32), prev[:-bpp]])
            if f == 0:
                filt = cur
            elif f == 1:
                filt = cur - left
            elif f == 2:
                filt = cur - prev
            elif f == 3:
                filt = cur - (left + prev) // 2
            else:
                p = left + prev - upleft
                pa, pb, pc = (np.abs(p - left), np.abs(p - prev),
                              np.abs(p - upleft))
                pred = np.where(
                    (pa <= pb) & (pa <= pc), left,
                    np.where(pb <= pc, prev, upleft))
                filt = cur - pred
            raw.append(f)
            raw.extend((filt % 256).astype(np.uint8).tobytes())
            prev = cur
        got = mm._png_defilter(bytes(raw), h, w, stride, bpp)
        want = ref_defilter(bytes(raw), h, w, stride, bpp)
        assert np.array_equal(got, want), (bpp, w, h)


def test_sentence_stats_abbrev_tier(spark):
    """r13: abbreviation-aware sentence segmentation — the bounded
    SENTENCE_ABBREVIATIONS set's trailing periods mask to a
    non-terminal sentinel, so "Dr. Smith" never ends a sentence;
    word counts are unchanged by the mask; the naive tier keeps its
    old semantics; handwritten expectations throughout."""
    from dwc_dataframe_validator_spark.operators.text import (
        SENTENCE_ABBREVIATIONS,
        sentence_stats,
    )

    df = spark.createDataFrame(
        [
            # 1 sentence under the tier (Dr. masked), 3 words... the
            # naive split sees "Dr." as a terminator -> 2 sentences
            (1, "Dr. Smith arrived."),
            # Mr./Mrs./Prof. all masked -> 2 sentences; naive sees 5
            (2, "Mr. and Mrs. Jones met Prof. Lee. They talked."),
            # mid-word 'dr.' must NOT mask (\b): "badr." terminates
            (3, "The word badr. ends here"),
            # case-insensitive: "DR." masks too; trailing unterminated
            (4, "DR. Who returned"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    aware = {r["doc_id"]: tuple(r)[1:]
             for r in sentence_stats(df, abbrev_aware=True).collect()}
    naive = {r["doc_id"]: tuple(r)[1:]
             for r in sentence_stats(df).collect()}
    # (n_sentences, n_terminated, total_words, mean, max)
    assert aware[1] == (1, 1, 3, 3, 3)
    assert naive[1] == (2, 2, 3, 1, 2)  # naive over-splits at "Dr."
    assert aware[2] == (2, 2, 9, 4, 7)
    assert naive[2][0] == 5
    assert aware[3] == (2, 1, 5, 2, 3)  # badr. still terminates
    assert aware[3] == naive[3]
    assert aware[4] == (1, 0, 3, 3, 3)  # DR. masked, unterminated tail
    assert aware[5] == (0, 0, 0, None, None)
    # word counts NEVER change under the mask (sentinel is non-ws)
    for k in (1, 2, 3, 4):
        assert aware[k][2] == naive[k][2], k
    # single source of truth: the pattern is generated from the tuple
    assert "dr" in SENTENCE_ABBREVIATIONS and "al" in SENTENCE_ABBREVIATIONS


def test_video_aligned_dedup_catches_trims(spark):
    """r13: the alignment tier vs the signature tier on head-trimmed
    videos — the defining contrast: video_near_dup (first-frame
    signature) must MISS the trim (documented design), while
    video_near_dup_aligned (>=2 shared frame hashes) merges source,
    trim and progressive re-encode into one cluster; disjoint-range
    classes never merge."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm

    # ids 1, 5, 9: class 1, variants full / trimmed / progressive;
    # id 2: class 2 (disjoint frame range)
    df = spark.createDataFrame([(1,), (5,), (9,), (2,)], "doc_id long")
    blobs = mm.attach_avi_trim_blob(df)

    aligned = {r["id"]: r["cluster"]
               for r in mm.video_near_dup_aligned(blobs).collect()}
    assert aligned[1] == aligned[5] == aligned[9] == 1
    assert aligned[2] == 2

    sig = {r["id"]: r["cluster"]
           for r in mm.video_near_dup(blobs).collect()}
    assert sig[1] == sig[9] == 1   # same first frame -> merged
    assert sig[5] == 5             # trimmed: DIFFERENT first frame,
    #                                missed by the signature tier
    assert sig[2] == 2

    # min_shared honors its threshold: with min_shared above the
    # 3-frame overlap nothing merges
    strict = {r["id"]: r["cluster"]
              for r in mm.video_near_dup_aligned(
                  blobs, min_shared=4).collect()}
    assert strict[1] != strict[5]


def test_png_adam7_and_bmp_rle8(spark):
    """r13: Adam7-interlaced PNG decode (lossless parity with the
    sequential encoding across all fixture classes and ragged sizes)
    and BI_RLE8 BMP decode (encoded runs, absolute mode, EOL/delta/
    EOD), with truncation fuzz and the residual RLE4 stub."""
    import numpy as np
    import pytest as _pytest

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    # Adam7 == sequential, bit-exact, every color type + ragged sizes
    for cls in range(24):
        px, pal = mm._png_fixture_pixels(cls)
        seq = mm.png_decode_pixels(mm.png_encode(px, pal))
        il = mm.png_decode_pixels(mm.png_encode(px, pal, interlace=True))
        assert il is not None and np.array_equal(seq, il), cls
    for hw in ((1, 1), (2, 3), (7, 5), (9, 16), (17, 18)):
        px = (np.add.outer(np.arange(hw[0]) * 37, np.arange(hw[1]) * 11)
              % 256).astype(np.uint8)[:, :, None]
        assert np.array_equal(
            mm.png_decode_pixels(mm.png_encode(px)),
            mm.png_decode_pixels(mm.png_encode(px, interlace=True)),
        ), hw
    ib = mm.png_encode(mm._png_fixture_pixels(1)[0], None, interlace=True)
    for cut in range(0, len(ib), 3):
        mm.png_decode_pixels(ib[:cut])  # truncation never raises

    # RLE8 round trip through the palette
    pal3 = mm._BMP_RLE_PALETTE
    luma = mm._luma_grid(mm._bmp_fixture_pixels(3)).astype(np.uint8)
    dec = mm.bmp_decode_pixels(mm.bmp_encode_rle8(luma, pal3))
    want = np.stack(
        [luma, (luma.astype(int) * 3 % 256).astype(np.uint8),
         (luma.astype(int) * 7 % 256).astype(np.uint8)], axis=2)
    assert np.array_equal(dec, want)

    # delta escape: skipped cells read palette index 0 (handwritten)
    import struct as _st
    stream = bytes([3, 5, 0, 0, 1, 7, 0, 2, 1, 1, 1, 9, 0, 0,
                    0, 3, 4, 5, 6, 0, 0, 0, 0, 1])
    dib = _st.pack("<IiiHHIIiiII", 40, 3, 4, 1, 8, 1, len(stream),
                   0, 0, 256, 0)
    quads = b"".join(bytes([i, i, i, 0]) for i in range(256))
    off = 14 + 40 + len(quads)
    blob = (b"BM" + _st.pack("<IHHI", off + len(stream), 0, 0, off)
            + dib + quads + stream)
    assert mm.bmp_decode_pixels(blob)[:, :, 0].tolist() == [
        [4, 5, 6], [0, 0, 9], [7, 0, 0], [5, 5, 5]]

    rb = mm.bmp_encode_rle8(luma, pal3)
    for cut in range(0, len(rb), 3):
        try:
            mm.bmp_decode_pixels(rb[:cut])
        except NotImplementedError:
            pass
    with _pytest.raises(NotImplementedError):
        # RLE4 relabel on an 8-bit DIB: an invalid combination (real
        # 4-bit RLE4 decodes since round 15) stays flagged
        mm.bmp_decode_pixels(mm.build_bmp_rle_blob(13))
    assert mm.bmp_decode_pixels(mm.build_bmp_rle_blob(17)) is None

    # operator integration over both fixture families
    df = spark.createDataFrame([(1,), (13,), (17,)], "doc_id long")
    gi = {r["id"]: r for r in mm.image_pixel_hashes(
        mm.attach_png_i_blob(df)).collect()}
    gb = {r["id"]: r for r in mm.image_pixel_hashes(
        mm.attach_bmp_rle_blob(df)).collect()}
    assert gi[1]["ok"] and gi[13]["ok"] and not gi[17]["ok"]
    assert gb[1]["ok"] and not gb[13]["ok"] and not gb[17]["ok"]
    # interlaced hash == sequential fixture hash (class 1 vs class 1)
    seq_hash = format(mm.image_ahash(
        mm.png_decode_pixels(mm.build_png_blob(1))), "016x")
    assert gi[1]["ahash"] == seq_hash


def test_wav_codec_tier_g711_and_float(spark):
    """r13: the WAV codec tier — IEEE float32 scaled to the int16
    grid, and G.711 A-law/µ-law table expansion.  The tables are
    validated against an INDEPENDENT reference µ-law compressor
    (every byte except the structural negative-zero 0x7F round-trips)
    and the A-law standard's anchors (min 8 / max 32256, uniform
    16-step chord-0 ladder, sign symmetry about the sign bit)."""
    import struct as _st

    import numpy as np
    import pytest as _pytest

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    tab_u = mm._g711_table(7, np)
    tab_a = mm._g711_table(6, np)

    def mulaw_compress(x):  # independent reference (CCITT G.711)
        bias, clip = 0x84, 32635
        sign = 0x80 if x < 0 else 0
        x = min(abs(x), clip) + bias
        exp, mask = 7, 0x4000
        while exp > 0 and not (x & mask):
            exp -= 1
            mask >>= 1
        return (~(sign | (exp << 4) | ((x >> (exp + 3)) & 0xF))) & 0xFF

    assert all(
        mulaw_compress(int(tab_u[b])) == b for b in range(256) if b != 0x7F
    )
    assert int(tab_u[0x7F]) == 0  # negative zero decodes to 0
    pos_a = sorted(int(v) for v in tab_a if v > 0)
    assert pos_a[0] == 8 and pos_a[-1] == 32256
    assert pos_a[:16] == list(range(8, 8 + 16 * 16, 16))
    assert all(int(tab_a[b]) == -int(tab_a[b ^ 0x80]) for b in range(256))
    assert sorted(int(v) for v in tab_u if v > 0)[-1] == 32124

    # float32: clip + round onto the int16 grid
    body = np.array([0.0, 0.5, -1.0, 1.0, 2.0, -0.25], "<f4").tobytes()
    fmtc = _st.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)
    blob = (b"RIFF" + _st.pack("<I", 4 + 8 + len(fmtc) + 8 + len(body))
            + b"WAVE" + b"fmt " + _st.pack("<I", len(fmtc)) + fmtc
            + b"data" + _st.pack("<I", len(body)) + body)
    _r, _c, arr = mm.wav_decode_samples(blob)
    assert arr[:, 0].tolist() == [0, 16384, -32767, 32767, 32767, -8192]

    # fixture plants: ADPCM relabel raises, truncation is None
    with _pytest.raises(NotImplementedError):
        mm.wav_decode_samples(mm.build_wav_codec_blob(13))
    assert mm.wav_decode_samples(mm.build_wav_codec_blob(17)) is None

    # operator end-to-end across all four format classes
    df = spark.createDataFrame(
        [(i,) for i in (4, 5, 6, 7, 13, 17)], "doc_id long")
    got = {r["id"]: r for r in mm.audio_pcm_features(
        mm.attach_wav_codec_blob(df)).collect()}
    for i in (4, 5, 6, 7):
        assert got[i]["ok"] and got[i]["n_frames"] == 240, i
    # G.711 classes decode the SAME md5 byte stream through different
    # companders — features must differ (the tables are different)
    assert got[6]["abs_sum"] != got[7]["abs_sum"]
    assert not got[13]["ok"] and not got[17]["ok"]


def test_gif_animation_decode(spark):
    """r13: animated GIF — full composition semantics (disposal
    restore-to-background and restore-to-previous, transparency
    holes, sub-rectangles), handwritten frame-by-frame expectations;
    static GIFs yield exactly the single-frame decoder's pixels;
    sample_frames and video_frame_hashes dispatch GIF; truncation and
    mutation fuzz never raise."""
    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    pal = bytes([0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0, 255])
    f0 = np.full((4, 6), 1, np.uint8)
    f1 = np.full((2, 2), 2, np.uint8)
    f2 = np.array([[3, 0], [0, 3]], np.uint8)
    f3 = np.full((1, 1), 2, np.uint8)
    blob = mm.gif_encode_anim(
        [(0, 0, f0, 1, None), (1, 1, f1, 2, None),
         (2, 0, f2, 3, 0), (0, 0, f3, 0, None)], pal, 6, 4)
    fr = mm.gif_decode_frames(blob)
    assert len(fr) == 4
    assert (fr[0] == [255, 0, 0]).all()                   # full red
    assert (fr[1][1, 1] == [0, 255, 0]).all()             # green patch
    assert (fr[2][1, 1] == [0, 0, 0]).all()               # bg-restored
    assert (fr[2][0, 2] == [0, 0, 255]).all()             # blue pixel
    assert (fr[2][0, 3] == [255, 0, 0]).all()             # transparent
    assert (fr[3][0, 2] == [255, 0, 0]).all()             # prev-restored
    assert (fr[3][0, 0] == [0, 255, 0]).all()

    # static GIF: one frame, identical to the first-frame decoder
    st = mm.build_gif_blob(1)
    sf = mm.gif_decode_frames(st)
    assert len(sf) == 1 and np.array_equal(sf[0], mm.gif_decode_pixels(st))

    for cut in range(0, len(blob), 2):
        mm.gif_decode_frames(blob[:cut])
    for i in range(0, len(blob), 2):
        mm.gif_decode_frames(blob[:i] + bytes([blob[i] ^ 0xA5])
                             + blob[i + 1:])

    # operator dispatch: hashes + sampled PNG frame bytes
    df = spark.createDataFrame([(2,), (17,)], "doc_id long")
    got = {(r["id"], r["frame_idx"]): r
           for r in mm.video_frame_hashes(
               mm.attach_gif_anim_blob(df)).collect()}
    nf = len(mm.gif_decode_frames(mm.build_gif_anim_blob(2)))
    assert got[(2, 0)]["ok"] and got[(2, 0)]["n_frames"] == nf
    assert got[(17, None)]["ok"] is False
    sampled = mm.sample_frames(
        mm.attach_gif_anim_blob(df), fake=False).collect()
    want = mm.gif_decode_frames(mm.build_gif_anim_blob(2))
    by_k = {r["frame_idx"]: bytes(r["frame_bytes"]) for r in sampled
            if r["id"] == 2}
    assert len(by_k) == min(4, nf)
    # frame bytes are lossless PNG re-encodes of the composed canvas
    assert np.array_equal(mm.png_decode_pixels(by_k[0]), want[0])


def test_media_header_v2_formats():
    """r13: WebP (VP8/VP8L/VP8X), FLAC STREAMINFO and MP4 tkhd header
    parsing — handwritten byte constructions independent of the
    fixture builder, plus truncation/mutation fuzz."""
    import struct as _st

    from dwc_dataframe_validator_spark.operators.multimodal import (
        build_media_blob_v2,
        parse_media_header,
    )

    # VP8 lossy: sync code + 14-bit LE dims
    d = b"\x00\x00\x00\x9d\x01\x2a" + _st.pack("<HH", 320, 240)
    webp = b"RIFF" + _st.pack("<I", 12 + len(d)) + b"WEBP" + b"VP8 " + _st.pack("<I", len(d)) + d
    assert parse_media_header(webp) == ("image/webp", 320, 240, 3, None, True)
    # VP8L lossless with alpha
    bits = (639) | (479 << 14) | (1 << 28)
    d = b"\x2f" + _st.pack("<I", bits)
    webpl = b"RIFF" + _st.pack("<I", 12 + len(d)) + b"WEBP" + b"VP8L" + _st.pack("<I", len(d)) + d
    assert parse_media_header(webpl) == ("image/webp", 640, 480, 4, None, True)
    # VP8X extended canvas
    d = bytes([0, 0, 0, 0]) + (99).to_bytes(3, "little") + (49).to_bytes(3, "little")
    webpx = b"RIFF" + _st.pack("<I", 12 + len(d)) + b"WEBP" + b"VP8X" + _st.pack("<I", len(d)) + d
    assert parse_media_header(webpx) == ("image/webp", 100, 50, 3, None, True)
    # FLAC: 44100 Hz stereo — rate 20 bits from byte 18, channels-1
    packed = bytes([(44100 >> 12) & 0xFF, (44100 >> 4) & 0xFF,
                    ((44100 & 0xF) << 4) | (1 << 1), 0]) + b"\x00" * 4
    info = _st.pack(">HH", 16, 16) + b"\x00" * 6 + packed
    info += b"\x00" * (34 - len(info))
    flac = b"fLaC" + bytes([0]) + len(info).to_bytes(3, "big") + info
    assert parse_media_header(flac) == ("audio/flac", None, None, 2, 44100, True)
    # MP4: tkhd version 0 with 1920x1080 16.16 dims
    tkhd_body = bytes([0, 0, 0, 7]) + b"\x00" * 72 + _st.pack(">II", 1920 << 16, 1080 << 16)
    tkhd = _st.pack(">I", 8 + len(tkhd_body)) + b"tkhd" + tkhd_body
    trak = _st.pack(">I", 8 + len(tkhd)) + b"trak" + tkhd
    moov = _st.pack(">I", 8 + len(trak)) + b"moov" + trak
    ftyp = _st.pack(">I", 16) + b"ftyp" + b"isomiso2"
    assert parse_media_header(ftyp + moov) == ("video/mp4", 1920, 1080, 3, None, True)

    # fuzz over every v2 fixture format
    for base in (5, 6, 7, 8, 9):
        blob = build_media_blob_v2(base)
        for cut in range(len(blob)):
            parse_media_header(blob[:cut])
        for j in range(len(blob)):
            parse_media_header(blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:])


def test_content_encoding_tier_stored_roundtrips_and_honest_routing():
    """br/zstd Content-Encoding tier (sources/warc.py): pure-Python
    stored-frame decoders roundtrip their emitters byte-exactly;
    compressed payloads route honestly to None; truncation never
    yields wrong bytes; bombs are rejected without inflating."""
    import gzip as _gzip
    import os as _os

    from dwc_dataframe_validator_spark.sources import warc as w

    payloads = [b"", b"x", b"hello world" * 50, _os.urandom(200001),
                bytes(range(256)) * 300]
    for p in payloads:
        assert w._brotli_decode(w.brotli_store(p)) == p
        assert w._zstd_decode(w.zstd_frame_store(p)) == p
    assert w._zstd_decode(w.zstd_frame_rle(0x61, 1000)) == b"a" * 1000
    # skippable frame + multi-frame concatenation
    sk = b"\x5f\x2a\x4d\x18" + (3).to_bytes(4, "little") + b"pad"
    assert (
        w._zstd_decode(
            sk + w.zstd_frame_store(b"abc") + w.zstd_frame_store(b"def")
        )
        == b"abcdef"
    )
    # compressed zstd block and compressed brotli -> honest None
    comp = bytearray(w.zstd_frame_store(b"zz"))
    comp[9] = (comp[9] & ~0x06) | (2 << 1)
    assert w._zstd_decode(bytes(comp)) is None
    assert w._brotli_decode(b"\x1b\x8f\x42not-actually-brotli") is None
    # truncation fuzz: every cut of a valid stream -> None, never junk
    for enc, dec in (
        (w.zstd_frame_store(b"hello world" * 10), w._zstd_decode),
        (w.brotli_store(b"hello world" * 10), w._brotli_decode),
    ):
        for cut in range(1, len(enc)):
            assert dec(enc[:cut]) is None
    # byte-flip fuzz must never raise (None or a decode are both fine)
    enc = w.zstd_frame_store(b"hello world" * 4)
    for j in range(len(enc)):
        w._zstd_decode(enc[:j] + bytes([enc[j] ^ 0xFF]) + enc[j + 1:])
    enc = w.brotli_store(b"hello world" * 4)
    for j in range(len(enc)):
        w._brotli_decode(enc[:j] + bytes([enc[j] ^ 0xFF]) + enc[j + 1:])


def test_decompress_bomb_rejected_by_streaming_cap():
    """ADVICE r13 (medium): the zip-bomb guard must stop BEFORE the
    payload materializes.  A 1 GiB-of-zeros gzip (~1 MB compressed)
    and a chained RLE zstd bomb must both return None via the capped
    incremental decode — _inflate_capped never produces more than
    _MAX_BODY + 1 bytes."""
    import gzip as _gzip

    from dwc_dataframe_validator_spark.sources import warc as w

    bomb = _gzip.compress(b"\0" * (1 << 30), compresslevel=9)
    assert w._decompress_body(bomb, b"gzip") is None
    frame = bytearray(b"\x28\xb5\x2f\xfd\xa0" + (0).to_bytes(4, "little"))
    for i in range(600):  # declares 600 * 2 MiB ≈ 1.2 GiB
        last = 1 if i == 599 else 0
        frame += ((((1 << 21) - 1) << 3) | (1 << 1) | last).to_bytes(
            3, "little"
        ) + b"z"
    assert w._zstd_decode(bytes(frame)) is None
    # a ~405-byte brotli bomb (256 MiB of zeros) stops at the cap fast
    import time as _time

    import pyarrow as _pa

    bomb = _pa.compress(b"\0" * (4 * w._MAX_BODY), codec="brotli",
                        asbytes=True)
    t0 = _time.perf_counter()
    assert w._decompress_body(bomb, b"br") is None
    assert _time.perf_counter() - t0 < 5
    # under-cap streams still decode through the same path
    ok = _gzip.compress(b"fine" * 100, mtime=0)
    assert w._decompress_body(ok, b"gzip") == b"fine" * 100


def test_lf_only_head_wire_decode():
    """ADVICE r13 (low): LF-only heads must expose their
    Transfer-Encoding/Content-Encoding headers, and the head split
    must take the EARLIEST of CRLFCRLF/LFLF so CRLF chunk framing in
    the body never swallows an LF head."""
    import gzip as _gzip

    from dwc_dataframe_validator_spark.sources import warc as w

    raw = b"<html><body><p>hi</p></body></html>"
    lf_payload = (
        b"HTTP/1.1 200 OK\nContent-Type: text/html\n"
        b"Transfer-Encoding: chunked\nContent-Encoding: gzip\n\n"
    ) + w._chunk_encode(_gzip.compress(raw, mtime=0))
    head, body, ce, chunked, decoded = w.decode_http_body(lf_payload)
    assert decoded and chunked and ce == "gzip" and body == raw
    # LF-framed chunking decodes too
    lf2 = (
        b"HTTP/1.1 200 OK\nTransfer-Encoding: chunked\n\n"
    ) + w._chunk_encode_lf(raw)
    head, body, ce, chunked, decoded = w.decode_http_body(lf2)
    assert decoded and chunked and body == raw
    # CRLF head whose body STARTS with a bare LF keeps the CRLF split
    p = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n\nLF body"
    head, body, _, _, _ = w.decode_http_body(p)
    assert body == b"\nLF body" and head.endswith(b"text/html")


def test_gif_composed_canvas_budget():
    """ADVICE r13 (low): gif_decode_frames must bound the PRODUCT of
    retained canvases × screen bytes, not just the frame count — a
    4000×4000-screen animation retains at most
    _GIF_MAX_COMPOSED_BYTES worth of composed copies, while small
    screens keep the full max_frames budget."""
    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    # big screen (4000x4000 = 48 MB/frame): 10 tiny sub-rect frames
    # declared, but only floor(192MB / 48MB) = 4 canvases retained
    pal = bytes([0, 0, 0, 255, 0, 0])
    idx = np.zeros((2, 2), dtype=np.int64)
    frames = [(0, 0, idx, 0, None)] * 10
    blob = mm.gif_encode_anim(frames, pal, 4000, 4000)
    out = mm.gif_decode_frames(blob)
    assert out is not None and len(out) == 4
    assert out[0].shape == (4000, 4000, 3)
    # small screen keeps all 10
    blob_small = mm.gif_encode_anim(frames, pal, 16, 16)
    out_small = mm.gif_decode_frames(blob_small)
    assert out_small is not None and len(out_small) == 10


def test_mp4_sample_walk_roundtrip_and_fuzz():
    """Codec-free MP4 tier: the sample-table walk must return the
    exact encoded bytes the muxer wrote, under both chunk layouts;
    every truncation of a valid file yields None (moov-last means a
    cut can never produce silently-wrong hashes); byte flips never
    raise."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm

    samples = [mm._mp4_fixture_sample(j) for j in range(4)]
    for single in (False, True):
        blob = mm.mp4_mux(samples, single_chunk=single)
        r = mm.mp4_sample_ranges(blob)
        assert r is not None and [blob[o:o + s] for o, s in r] == samples
        # container metadata still parses
        assert mm.parse_media_header(blob) == (
            "video/mp4", 18, 16, 3, None, True
        )
    blob = mm.mp4_mux(samples)
    for cut in range(1, len(blob)):
        assert mm.mp4_sample_ranges(blob[:cut]) is None
    for j in range(len(blob)):
        mm.mp4_sample_ranges(
            blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:]
        )


def test_mp4_byte_dedup_trim_and_remux_merge(spark):
    """mp4_byte_dedup semantics on the fixture universe: full,
    head-trimmed and single-chunk re-muxed variants of a class merge
    (≥ 3 shared sample hashes); the 4 sample classes never do;
    truncated blobs are excluded (ok=false)."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm

    rows = [(d,) for d in range(48)]
    docs = spark.createDataFrame(rows, "doc_id long")
    clusters = mm.mp4_byte_dedup(mm.attach_mp4_blob(docs)).collect()
    by_id = {r["id"]: r["cluster"] for r in clusters}
    assert 0 not in by_id and 17 not in by_id and 34 not in by_id
    for d, c in by_id.items():
        # expected cluster: min doc_id of the same class that is not
        # a truncation plant
        exp = min(
            x for x in range(48) if x % 4 == d % 4 and x % 17 != 0
        )
        assert c == exp, (d, c, exp)


def test_webm_sample_walk_and_cross_container_merge(spark):
    """EBML/WebM tier: the sample walk returns the exact encoded
    frame bytes under unlaced SimpleBlock framing AND all three
    Matroska lacings (Xiph 255-run, EBML signed-delta, fixed split);
    a torn lacing table routes to the honest None; an MP4→WebM re-mux
    and every lacing carry identical sample hashes and mp4_byte_dedup
    merges across containers and packagings."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm

    samples = [mm._mp4_fixture_sample(j) for j in range(4)]
    varied = [b"x" * 300, b"y" * 700, b"z" * 255, b"w" * 510, b"q" * 41]
    for lac, ss in (
        (None, samples), ("xiph", varied), ("ebml", varied),
        ("fixed", samples), ("xiph", varied[:1]), ("ebml", varied[:1]),
    ):
        blob = mm.webm_mux(ss, lacing=lac)
        r = mm.webm_sample_ranges(blob)
        assert [blob[o:o + s] for o, s in r] == ss, lac
        # truncation honesty: every cut → None or a frame prefix
        for cut in range(1, len(blob), 7):
            rr = mm.webm_sample_ranges(blob[:cut])
            if rr is not None:
                got = [blob[:cut][o:o + s] for o, s in rr]
                assert got == ss[: len(got)], (lac, cut)
        # byte-flip fuzz never raises
        for j in range(0, len(blob), 7):
            mm.webm_sample_ranges(
                blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:]
            )
    # a fixed lace whose payload doesn't divide evenly -> honest None
    blob = mm.webm_mux(samples, lacing="fixed")
    assert mm.webm_sample_ranges(blob[:-1]) is None
    # cross-container dedup semantics on the fixture universe (spans
    # all 7 container/packaging/lacing variants: doc_id//4 in 0..11)
    docs = spark.createDataFrame([(d,) for d in range(48)], "doc_id long")
    clusters = mm.mp4_byte_dedup(mm.attach_media_mux_blob(docs)).collect()
    by_id = {x["id"]: x["cluster"] for x in clusters}
    assert 0 not in by_id and 17 not in by_id and 34 not in by_id
    for d, c in by_id.items():
        exp = min(
            x for x in range(48) if x % 4 == d % 4 and x % 17 != 0
        )
        assert c == exp, (d, c, exp)


def test_chained_content_encoding():
    """RFC 9110 §8.4: Content-Encoding lists apply in order, so decode
    reverses last-to-first; identity hops are no-ops; an undecodable
    hop flags the row."""
    import gzip as _gzip

    from dwc_dataframe_validator_spark.sources import warc as w

    raw = b"chained payload " * 16
    assert (
        w._decompress_body(w.brotli_store(_gzip.compress(raw)), b"gzip, br")
        == raw
    )
    assert (
        w._decompress_body(
            _gzip.compress(w.zstd_frame_store(raw)), b"zstd , gzip"
        )
        == raw
    )
    assert w._decompress_body(raw, b"identity, identity") == raw
    assert w._decompress_body(b"junk", b"gzip, unknown") is None
    # full message path: class 9 of the fixture
    t, enc, _s, ce, ch, dec = w.decode_payload_full(
        w.build_content_encoding_blob(9)
    )
    assert dec and ce == "gzip, br" and "stayed open" in t


def test_fmp4_fragmented_walk():
    """Fragmented-MP4 tier: moof/traf/tfhd/trun resolution returns
    the exact encoded bytes under every fragment grouping; hashes are
    identical to the classic-layout mux of the same samples; every
    truncation yields None or a correct sample prefix, never wrong
    bytes; byte flips never raise."""
    import hashlib

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    samples = [mm._mp4_fixture_sample(j) for j in range(5)]
    for pf in (1, 2, 3, 5):
        blob = mm.fmp4_mux(samples, per_fragment=pf)
        r = mm.mp4_sample_ranges(blob)
        assert [blob[o:o + s] for o, s in r] == samples, pf
    # multi-trun fragments where the SECOND trun omits data-offset:
    # its run continues after the first run's data (§8.8.8) — the
    # pre-fix walk restarted at moof start and returned wrong bytes
    for pf in (2, 3, 5):
        blob = mm.fmp4_mux(samples, per_fragment=pf, split_truns=True)
        r = mm.mp4_sample_ranges(blob)
        assert [blob[o:o + s] for o, s in r] == samples, ("split", pf)
    blob = mm.fmp4_mux(samples)
    classic = mm.mp4_mux(samples)

    def hashes(b):
        return [
            hashlib.md5(b[o:o + s]).hexdigest()
            for o, s in mm.mp4_sample_ranges(b)
        ]

    assert hashes(blob) == hashes(classic)
    for cut in range(1, len(blob)):
        rr = mm.mp4_sample_ranges(blob[:cut])
        if rr is not None:
            got = [blob[:cut][o:o + s] for o, s in rr]
            assert got == samples[: len(got)], cut
    for j in range(len(blob)):
        mm.mp4_sample_ranges(
            blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:]
        )


def test_mp3_frame_walk_and_dedup(spark):
    """MPEG audio tier: the frame-sync walk returns the exact frame
    bytes the muxer wrote under VBR; ID3v2/ID3v1 tags are transparent
    (identical hashes bare vs re-tagged); frame-length arithmetic is
    pinned for all version/layer families; every truncation yields
    None or a correct frame prefix (MP3 is self-framing, so a cut on
    a frame boundary IS a valid shorter stream), never wrong bytes;
    byte flips never raise; the dedup tier merges trim + re-tag per
    class."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm

    frames = [mm.mp3_frame(j, 2 + (j * 3) % 12) for j in range(4)]
    assert len({len(f) for f in frames}) == 4  # genuinely VBR
    for id3_pad, id3v1 in ((0, False), (64, True), (300, False)):
        blob = mm.mp3_mux(frames, id3_pad=id3_pad, id3v1=id3v1)
        r = mm.mp3_frame_ranges(blob)
        assert [blob[o:o + s] for o, s in r] == frames, (id3_pad, id3v1)
        assert mm.media_sample_ranges(blob) == r
    # frame-length arithmetic, one pin per (version, layer) family
    mk = lambda v, l, br: (0x7FF << 21) | (v << 19) | (l << 17) | (br << 12)
    assert mm._mp3_frame_len(mk(3, 3, 4)) == (12 * 128000 // 44100) * 4
    assert mm._mp3_frame_len(mk(3, 2, 4)) == 144 * 64000 // 44100
    assert mm._mp3_frame_len(mk(3, 1, 4)) == 144 * 56000 // 44100
    assert mm._mp3_frame_len(mk(2, 1, 4)) == 72 * 32000 // 22050
    assert mm._mp3_frame_len(mk(0, 1, 4)) == 72 * 32000 // 11025
    assert mm._mp3_frame_len(mk(3, 1, 4) | (1 << 9)) == \
        144 * 56000 // 44100 + 1  # padding bit
    for bad in (mk(3, 0, 4), mk(3, 3, 0), mk(3, 3, 15),
                mk(1, 3, 4), mk(3, 3, 4) | (3 << 10), 0):
        assert mm._mp3_frame_len(bad) is None, hex(bad)
    # truncation honesty: prefix-of-frames or None, never wrong bytes
    blob = mm.mp3_mux(frames)
    bounds = set()
    acc = 0
    for f in frames:
        acc += len(f)
        bounds.add(acc)
    for cut in range(1, len(blob)):
        rr = mm.mp3_frame_ranges(blob[:cut])
        if cut in bounds:
            assert [blob[o:o + s] for o, s in rr] == \
                frames[: len(rr)], cut
        else:
            assert rr is None, cut
    for j in range(len(blob)):
        mm.mp3_frame_ranges(
            blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:]
        )
    # torn ID3v2 header and torn trailing TAG are honest Nones
    tagged = mm.mp3_mux(frames, id3_pad=64, id3v1=True)
    assert mm.mp3_frame_ranges(tagged[:8]) is None
    assert mm.mp3_frame_ranges(tagged[:-3]) is None
    # dedup: bare / head-trim / re-tag merge per class, classes apart
    docs = spark.createDataFrame([(d,) for d in range(48)], "doc_id long")
    clusters = mm.mp4_byte_dedup(mm.attach_mp3_blob(docs)).collect()
    by_id = {r["id"]: r["cluster"] for r in clusters}
    assert 0 not in by_id and 17 not in by_id and 34 not in by_id
    for d, c in by_id.items():
        exp = min(
            x for x in range(48) if x % 4 == d % 4 and x % 17 != 0
        )
        assert c == exp, (d, c, exp)


def test_ogg_page_walk_and_cross_container_audio_merge(spark):
    """Ogg tier: the CRC-verified page walk reassembles the exact
    packet bytes under EVERY pagination (1/2/3/255 segments per page
    — packets spanning pages with continuation flags); codec header
    packets (OpusHead/OpusTags, Vorbis, Theora) are skipped so
    re-tags are transparent; every byte flip is caught by the page
    CRC; a cut ANYWHERE — including exactly on a page boundary, where
    the missing EOS flag is the tell — is an honest None; multiplexed
    two-stream files reassemble per-serial; and the dedup tier merges
    Ogg ↔ re-paginated Ogg ↔ laced-WebM re-muxes per class."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm

    packets = [mm._ogg_fixture_packet(j) for j in range(4)]
    assert {len(p) for p in packets} == {200, 510, 350, 650}
    for spp in (1, 2, 3, 255):
        for headers in (None, mm._opus_headers(False),
                        mm._opus_headers(True),
                        [b"\x01vorbis" + bytes(23)] * 3):
            blob = mm.ogg_mux(packets, segs_per_page=spp,
                              headers=headers)
            r = mm.ogg_packet_ranges(blob)
            assert r is not None and len(r) == 4, (spp, headers)
            assert [mm._sample_bytes(blob, x) for x in r] == packets
            assert mm.media_sample_ranges(blob) == r
    # CRC catches every byte flip; cuts are honest Nones everywhere
    blob = mm.ogg_mux(packets, segs_per_page=2,
                      headers=mm._opus_headers(False))
    for j in range(len(blob)):
        mut = blob[:j] + bytes([blob[j] ^ 0x41]) + blob[j + 1:]
        assert mm.ogg_packet_ranges(mut) is None, j
    for cut in range(1, len(blob)):
        assert mm.ogg_packet_ranges(blob[:cut]) is None, cut
    # multiplexed streams: interleave pages of two serials; packets
    # reassemble per-serial and both streams' packets all surface
    a = mm.ogg_mux(packets[:2], serial=0x11)
    b = mm.ogg_mux(packets[2:], serial=0x22)
    mux = a[:0]
    # page-split both files and interleave page-by-page
    def pages(x):
        out, i = [], 0
        while i < len(x):
            nseg = x[i + 26]
            nxt = i + 27 + nseg + sum(x[i + 27:i + 27 + nseg])
            out.append(x[i:nxt])
            i = nxt
        return out
    pa, pb = pages(a), pages(b)
    for k in range(max(len(pa), len(pb))):
        if k < len(pa):
            mux += pa[k]
        if k < len(pb):
            mux += pb[k]
    r = mm.ogg_packet_ranges(mux)
    assert r is not None
    assert sorted(mm._sample_bytes(mux, x) for x in r) == \
        sorted(packets)
    # zero-length packet and exact-255-multiple lacing round-trip
    odd = [b"", b"z" * 255, b"q" * 510]
    blob = mm.ogg_mux(odd)
    assert [mm._sample_bytes(blob, x)
            for x in mm.ogg_packet_ranges(blob)] == odd
    # dedup: Ogg / re-paginated+re-tagged / trim / Xiph-WebM /
    # EBML-WebM merge per class, classes apart, plants excluded
    docs = spark.createDataFrame([(d,) for d in range(48)], "doc_id long")
    clusters = mm.mp4_byte_dedup(mm.attach_audio_mux_blob(docs)).collect()
    by_id = {x["id"]: x["cluster"] for x in clusters}
    assert 0 not in by_id and 17 not in by_id and 34 not in by_id
    for d, c in by_id.items():
        exp = min(
            x for x in range(48) if x % 4 == d % 4 and x % 17 != 0
        )
        assert c == exp, (d, c, exp)


def test_audio_aligned_dedup_trim_and_reencode(spark):
    """Trim-tolerant audio tier: the 16 universal window patterns are
    distinct and realized bit-exact by the PCM construction; a G.711
    µ-law re-encode preserves every window hash (quantization error
    ≪ envelope margins); the whole-clip signature tier MISSES the
    head trim (Hamming > threshold — the designed gap) while the
    aligned tier merges full + trim + re-encode per class and keeps
    classes apart."""
    import hashlib

    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    hashes = [mm.audio_envelope_hash(mm._audio_align_window(j))
              for j in range(16)]
    assert len(set(hashes)) == 16
    for j, h in enumerate(hashes):
        assert h == int.from_bytes(
            hashlib.md5(b"audio-align-%d" % j).digest()[:8], "big"
        ), j
    # µ-law roundtrip: window hash identical, bytes not
    w = mm._audio_align_window(3)
    enc = mm._g711_encode(w[:, 0], 7, np)
    dec = mm._g711_table(7, np)[np.frombuffer(enc, np.uint8)]
    assert mm.audio_envelope_hash(dec.reshape(-1, 1)) == hashes[3]
    assert not np.array_equal(dec, w[:, 0])
    # the designed signature-tier gap: whole-clip envelopes of full
    # vs head-trimmed clips sit far beyond the Hamming threshold
    full = np.concatenate([mm._audio_align_window(j) for j in range(4)])
    trim = full[1024:]
    d = bin(
        mm.audio_envelope_hash(full) ^ mm.audio_envelope_hash(trim)
    ).count("1")
    assert d > 6, d  # audio_hash_dedup threshold=6 cannot merge these
    # aligned tier semantics on the fixture universe
    docs = spark.createDataFrame([(x,) for x in range(48)], "doc_id long")
    clusters = mm.audio_near_dup_aligned(
        mm.attach_wav_align_blob(docs)
    ).collect()
    by_id = {r["id"]: r["cluster"] for r in clusters}
    assert 0 not in by_id and 17 not in by_id and 34 not in by_id
    for x, c in by_id.items():
        exp = min(
            y for y in range(48) if y % 4 == x % 4 and y % 17 != 0
        )
        assert c == exp, (x, c, exp)


def test_image_resize_kernel_and_operator(spark):
    """resize tier: identity-size bilinear/nearest are exact; 'mean'
    equals the manual block mean and is integer-exact; non-divisible
    'mean' raises; the Spark operator round-trips through PNG with
    ok=false rows for undecodable blobs."""
    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    px, _ = mm._png_fixture_pixels(3)
    assert np.array_equal(mm.image_resize_pixels(px, 16, 16, "bilinear"), px)
    assert np.array_equal(mm.image_resize_pixels(px, 16, 16, "nearest"), px)
    m = mm.image_resize_pixels(px, 8, 8, "mean")
    ref = px.reshape(8, 2, 8, 2, -1).sum(axis=(1, 3), dtype=np.int64) // 4
    assert np.array_equal(m, ref.astype(np.uint8))
    import pytest as _pt

    with _pt.raises(ValueError):
        mm.image_resize_pixels(px, 7, 7, "mean")
    b = mm.image_resize_pixels(px, 5, 9, "bilinear")
    assert b.shape == (9, 5, px.shape[2]) and b.dtype == np.uint8
    # operator: good blob thumbnails decode back to the kernel output;
    # junk blob -> ok=false with NULL content
    rows = [(1, mm.png_encode(px)), (2, b"not an image")]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {r["id"]: r for r in mm.resize_images(df, 8, 8).collect()}
    assert got[2]["ok"] is False and got[2]["content"] is None
    thumb = mm.png_decode_pixels(bytes(got[1]["content"]))
    assert np.array_equal(
        thumb, mm.image_resize_pixels(px, 8, 8, "bilinear")
    )


def test_audio_resample_kernel_and_operator(spark):
    """resample tier: identity rate is a copy; integer downsample by
    2 picks every other sample exactly (positions land on sources);
    upsample midpoints are the linear average; the operator
    round-trips through WAV with ok=false for stub/malformed blobs."""
    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    arr = (np.arange(40, dtype=np.int16) * 100 - 2000).reshape(-1, 2)
    same = mm.resample_pcm(arr, 8000, 8000)
    assert np.array_equal(same, arr) and same is not arr
    down = mm.resample_pcm(arr, 8000, 4000)
    assert np.array_equal(down, arr[::2])
    up = mm.resample_pcm(arr, 8000, 16000)
    assert up.shape[0] == 40
    assert np.array_equal(up[::2], arr)
    # odd output positions sit halfway between consecutive sources
    # (the last one clamps to the final source sample)
    mids = np.rint((arr[:-1].astype(np.float64) + arr[1:]) / 2)
    assert np.array_equal(up[1:-1:2].astype(np.float64), mids)
    assert np.array_equal(up[-1], arr[-1])
    rate, _ch, fx = mm._wav_fixture_samples(3)
    rows = [
        (1, mm.wav_encode(rate, fx)),
        (2, b"RIFFnope"),
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {r["id"]: r for r in mm.resample_audio(df, 16000).collect()}
    assert got[2]["ok"] is False and got[2]["content"] is None
    r2, c2, dec = mm.wav_decode_samples(bytes(got[1]["content"]))
    assert r2 == 16000
    assert np.array_equal(dec, mm.resample_pcm(fx, rate, 16000))


def test_tar_webdataset_source(spark, tmp_path):
    """Tar/WebDataset source: file-source and columnar faces agree;
    gzip shards decode transparently; a shard cut at a 512-block
    boundary is FLAGGED (the zero-terminator check), not silently
    shortened; truncation never yields wrong bytes; grouping
    regroups samples by first-dot key with the torn part dropped."""
    from dwc_dataframe_validator_spark.sources import tar as t

    members = [
        ("000/abc.jpg", b"JPG" * 111), ("000/abc.txt", b"caption one"),
        ("000/abc.meta.json", b'{"a":1}'), ("000/xyz.jpg", b"Z" * 77),
        ("000/xyz.txt", b"caption two"),
    ]
    blob = t.tar_encode(members)
    # file-source face == columnar face
    shard = tmp_path / "shard-000.tar"
    shard.write_bytes(blob)
    via_file = t.read_tar(spark, str(shard)).collect()
    df = spark.createDataFrame([(1, blob)], "id long, content binary")
    via_col = t.decode_tar_records(df, id_col="id").collect()
    assert [
        (r["member_name"], bytes(r["content"])) for r in via_file
    ] == [(r["member_name"], bytes(r["content"])) for r in via_col]
    assert [r["key"] for r in via_file[:3]] == ["000/abc"] * 3
    assert via_file[2]["ext"] == "meta.json"
    # gzip transparency
    rows_gz = list(t.iter_tar_members(t.tar_encode(members, gz=True)))
    assert [(r[1], r[3]) for r in rows_gz] == [
        (n, d) for n, d in members
    ]
    # MULTI-STREAM shards (pigz / pbzip2 / `cat a.gz b.gz` output):
    # each half compressed as its own stream, concatenated — stdlib
    # tarfile reads these fully, so must _plain_tar_bytes
    import bz2 as _bz2
    import gzip as _gzip

    half = len(blob) // 2 // 512 * 512  # split on a block boundary
    multi_gz = _gzip.compress(blob[:half]) + _gzip.compress(blob[half:])
    assert t._plain_tar_bytes(multi_gz) == blob
    multi_bz = _bz2.compress(blob[:half]) + _bz2.compress(blob[half:])
    assert t._plain_tar_bytes(multi_bz) == blob
    rows_ms = list(t.iter_tar_members(multi_gz))
    assert [(r[1], r[3]) for r in rows_ms] == [
        (n, d) for n, d in members
    ]
    # trailing garbage after the last stream is corrupt, not silently
    # truncated-to-first-stream
    assert t._plain_tar_bytes(
        _gzip.compress(blob) + b"not-a-gzip-stream"
    ) is None
    # block-boundary cut: all members present but terminator gone
    content_end = sum(
        512 + (len(d) + 511) // 512 * 512 for _, d in members
    )
    cut_rows = list(t.iter_tar_members(blob[:content_end]))
    assert not cut_rows[-1][4] and len(
        [r for r in cut_rows if r[4]]
    ) == len(members)
    # exhaustive truncation: flagged tail or complete archive
    for cut in range(1, len(blob), 7):
        got = list(t.iter_tar_members(blob[:cut]))
        good = [r for r in got if r[4]]
        for r, (n, d) in zip(good, members):
            assert r[1] == n and r[3] == d, cut
        assert (got and not got[-1][4]) or len(good) == len(members)
    # grouping: 2 samples, torn-part drop
    samples = {
        r["key"]: r
        for r in t.webdataset_samples(
            t.decode_tar_records(df, id_col="id"),
            shard_col="id", key_col="key",
        ).collect()
    }
    assert samples["000/abc"]["n_parts"] == 3
    assert samples["000/abc"]["exts"] == "jpg,meta.json,txt"
    assert samples["000/xyz"]["n_parts"] == 2


def test_zip_shard_source(spark, tmp_path):
    """Zip shard source: file-source and columnar faces agree;
    deflate decodes to identical rows (compression transparency); a
    torn tail collapses to ONE flagged row (the central directory —
    zip's sole authority — lives at the tail); a corrupt member flags
    ONLY itself and the walk continues (CD still locates the rest —
    the structural opposite of tar); an encrypted member flags
    without a task failure; grouping regroups samples with the
    corrupt part dropped."""
    from dwc_dataframe_validator_spark.sources import tar as t
    from dwc_dataframe_validator_spark.sources import zip as z

    members = [
        ("000/abc.jpg", b"JPG" * 111), ("000/abc.txt", b"caption one"),
        ("000/abc.meta.json", b'{"a":1}'), ("000/xyz.jpg", b"Z" * 77),
        ("000/xyz.txt", b"caption two"),
    ]
    blob = z.zip_encode(members)
    # file-source face == columnar face
    shard = tmp_path / "shard-000.zip"
    shard.write_bytes(blob)
    via_file = z.read_zip(spark, str(shard)).collect()
    df = spark.createDataFrame([(1, blob)], "id long, content binary")
    via_col = z.decode_zip_records(df, id_col="id").collect()
    assert [
        (r["member_name"], bytes(r["content"])) for r in via_file
    ] == [(r["member_name"], bytes(r["content"])) for r in via_col]
    assert [r["key"] for r in via_file[:3]] == ["000/abc"] * 3
    assert via_file[2]["ext"] == "meta.json"
    # deflate transparency: identical member rows
    rows_d = list(z.iter_zip_members(z.zip_encode(members, deflate=True)))
    assert [(r[1], r[3], r[4]) for r in rows_d] == [
        (n, d, True) for n, d in members
    ]
    # exhaustive truncation: zip has NO recoverable prefix — any cut
    # that damages the tail structures yields flagged rows only,
    # never wrong member bytes
    by_name = dict(members)
    for cut in range(1, len(blob), 7):
        got = list(z.iter_zip_members(blob[:cut]))
        for r in got:
            if r[4]:
                assert r[3] == by_name[r[1]], cut
    assert list(z.iter_zip_members(blob[: len(blob) * 2 // 3])) == [
        (0, None, None, None, False)
    ]
    # corrupt ONE member's data byte: CRC flags it alone, walk goes on
    pos = 30 + len(members[0][0]) + 3
    bad = blob[:pos] + bytes([blob[pos] ^ 0x5A]) + blob[pos + 1:]
    rows = list(z.iter_zip_members(bad))
    assert rows[0][1] == "000/abc.jpg" and not rows[0][4]
    assert rows[0][3] is None
    assert [(r[1], r[4]) for r in rows[1:]] == [
        (n, True) for n, _ in members[1:]
    ]
    # encrypted member (general-purpose bit 0 set in local + CD
    # headers): flagged, not a task failure, siblings still parse
    import zipfile as _zf
    import io as _io

    enc = bytearray(blob)
    enc[6] |= 0x01  # local header flag bits, first member
    zf = _zf.ZipFile(_io.BytesIO(blob))
    cd_off = zf.infolist()[0].header_offset  # for CD: find via EOCD
    # locate the first CD entry: scan for PK\x01\x02 signature
    cd0 = blob.index(b"PK\x01\x02")
    enc[cd0 + 8] |= 0x01  # CD flag bits
    rows = list(z.iter_zip_members(bytes(enc)))
    assert not rows[0][4] and all(r[4] for r in rows[1:])
    # byte-flip fuzz anywhere never raises
    for j in range(0, len(blob), 3):
        list(z.iter_zip_members(
            blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:]
        ))
    # grouping: corrupt part dropped from its sample
    dfb = spark.createDataFrame([(1, bad)], "id long, content binary")
    samples = {
        r["key"]: r
        for r in t.webdataset_samples(
            z.decode_zip_records(dfb, id_col="id"),
            shard_col="id", key_col="key",
        ).collect()
    }
    assert samples["000/abc"]["n_parts"] == 2
    assert samples["000/abc"]["exts"] == "meta.json,txt"
    assert samples["000/xyz"]["n_parts"] == 2


def test_subtitle_cues_srt_vtt(spark):
    """Timed-text tier: SRT and WebVTT packagings of the same cues
    parse to IDENTICAL rows (index/identifier lines, header, NOTE
    blocks and cue settings all transparent); CRLF endings, VTT hours
    present or absent, and multi-line text all parse; an unparseable
    timestamp or end<start flags ok=false with text kept; a cue with
    no text yields an empty string; the frame-cue alignment join
    pairs frames with every covering cue window."""
    from dwc_dataframe_validator_spark.operators import text as T

    def rows(content):
        df = spark.createDataFrame([(1, content)], "id long, content string")
        return [
            (r["cue_idx"], r["start_ms"], r["end_ms"], r["text"], r["ok"])
            for r in sorted(
                T.subtitle_cues(df).collect(),
                key=lambda r: r["cue_idx"],
            )
        ]

    srt = (
        "1\r\n00:00:01,500 --> 00:00:03,000\r\nhello\r\nworld\r\n\r\n"
        "2\r\n01:02:03,004 --> 01:02:04,000\r\nsecond\r\n"
    )
    vtt = (
        "WEBVTT\n\nNOTE a comment\nwith no arrow\n\n"
        "intro\n00:01.500 --> 00:03.000 align:start\nhello\nworld\n\n"
        "c2\n01:02:03.004 --> 01:02:04.000\nsecond\n"
    )
    expect = [
        (0, 1500, 3000, "hello\nworld", True),
        (1, 3723004, 3724000, "second", True),
    ]
    assert rows(srt) == expect
    assert rows(vtt) == expect
    # empty cue text; unparseable times; end < start
    odd = (
        "1\n00:00:00,000 --> 00:00:01,000\n\n\n"
        "2\nxx:yy --> zz\nkept text\n\n"
        "3\n00:00:05,000 --> 00:00:04,000\nbackwards\n"
    )
    got = rows(odd)
    assert got[0] == (0, 0, 1000, "", True)
    assert got[1] == (1, None, None, "kept text", False)
    assert got[2] == (2, None, None, "backwards", False)
    # fixture parity: SRT variant == VTT variant, pinned per class
    for cls in range(4):
        a = T.build_subtitle_text(8 + cls)    # (d//4)%2 == 0: SRT
        b = T.build_subtitle_text(4 + cls)    # same class, VTT
        assert rows(a) == rows(b), cls
    # alignment composition on a tiny universe: frame 1 (ts 500) is
    # inside cue 0's [13c, 13c+900) window for every class
    from dwc_dataframe_validator_spark.operators import multimodal as mm
    from dwc_dataframe_validator_spark import registry

    docs = spark.createDataFrame([(d,) for d in range(12)], "doc_id long")
    frames = (
        mm.video_frame_hashes(mm.attach_avi_blob(docs))
        .filter("ok").selectExpr("id", "frame_idx")
    )
    cues = T.subtitle_cues(T.attach_subtitle_text(docs)).filter("ok")
    from pyspark.sql import functions as F

    pairs = frames.join(
        cues.selectExpr("id as cid", "cue_idx", "start_ms", "end_ms"),
        (F.col("id") == F.col("cid"))
        & ((F.col("frame_idx") * 500).cast("long") >= F.col("start_ms"))
        & ((F.col("frame_idx") * 500).cast("long") < F.col("end_ms")),
    ).collect()
    by = {}
    for r in pairs:
        by.setdefault(r["id"], set()).add((r["frame_idx"], r["cue_idx"]))
    for d in range(1, 12):
        if d % 17 == 0:
            continue
        assert (1, 0) in by[d], (d, by.get(d))


def test_ima_adpcm_decode(spark):
    """IMA ADPCM tier: the vectorized block decoder matches an
    INDEPENDENT scalar re-implementation of the reference algorithm
    bit-exactly across mono/stereo and block sizes; the encoder's
    predictor tracks the decoder's own arithmetic (no drift); the
    full WAV face decodes fmt 0x11; torn trailing blocks, bad step
    indexes and nonzero reserved bytes refuse; the MS-ADPCM (fmt 2)
    relabel stays an honest stub; and the feature operator flags
    plants without task failures."""
    import struct

    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    def ref_decode(data, ch, ba):
        out = []
        for b in range(len(data) // ba):
            blk = data[b * ba:(b + 1) * ba]
            preds, idxs, chans = [], [], []
            for c in range(ch):
                p, i, _r = struct.unpack_from("<hBB", blk, 4 * c)
                preds.append(p)
                idxs.append(i)
                chans.append([p])
            body = blk[4 * ch:]
            for g in range(len(body) // (4 * ch)):
                for c in range(ch):
                    four = body[(g * ch + c) * 4:(g * ch + c) * 4 + 4]
                    for byte in four:
                        for nib in (byte & 0xF, byte >> 4):
                            step = mm._IMA_STEPS[idxs[c]]
                            d = step >> 3
                            if nib & 1:
                                d += step >> 2
                            if nib & 2:
                                d += step >> 1
                            if nib & 4:
                                d += step
                            if nib & 8:
                                d = -d
                            preds[c] = max(-32768,
                                           min(32767, preds[c] + d))
                            idxs[c] = max(
                                0, min(88, idxs[c] + mm._IMA_INDEX[nib])
                            )
                            chans[c].append(preds[c])
            for s in range(len(chans[0])):
                out.append([chans[c][s] for c in range(ch)])
        return np.array(out, np.int16)

    x = (
        np.cumsum(
            np.frombuffer(
                bytes(np.arange(6000, dtype=np.uint8) * 7 % 251),
                np.uint8,
            ).astype(np.int32) - 125
        ) * 11 % 30000 - 15000
    ).astype(np.int16)
    for ch, ba in ((1, 256), (2, 256), (1, 512), (2, 64)):
        arr = x[: (len(x) // ch) * ch].reshape(-1, ch)
        enc = mm.ima_adpcm_encode(arr, ba)
        dec = mm._ima_adpcm_decode(enc, ch, ba, np)
        ref = ref_decode(enc, ch, ba)
        assert dec.shape == ref.shape and (dec == ref).all(), (ch, ba)
    # full WAV face, stereo
    arr = x[:4000].reshape(-1, 2)
    rate, ch, dec = mm.wav_decode_samples(mm.wav_adpcm_encode(9000, arr))
    assert (rate, ch) == (9000, 2) and dec.shape[1] == 2
    # honest refusals: torn block, step index > 88, reserved != 0
    blob = mm.wav_adpcm_encode(8000, x[:2000].reshape(-1, 1), 256)
    assert mm.wav_decode_samples(blob[:-3]) is None
    assert mm.wav_decode_samples(
        blob[:62] + b"\x63" + blob[63:]
    ) is None
    assert mm.wav_decode_samples(
        blob[:63] + b"\x01" + blob[64:]
    ) is None
    # an unknown compressed format (MP3-in-RIFF) still routes to
    # the stub tier; an fmt-2 relabel of IMA data is now parsed as MS
    # ADPCM and refused on its invalid predictor bytes, never decoded
    # silently wrong
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        mm.wav_decode_samples(blob[:20] + struct.pack("<H", 0x55) + blob[22:])
    # fixture semantics through the feature operator
    docs = spark.createDataFrame([(d,) for d in range(48)], "doc_id long")
    rows = {
        r["id"]: r
        for r in mm.audio_pcm_features(mm.attach_adpcm_blob(docs)).collect()
    }
    for d, r in rows.items():
        bad = d % 17 == 0 or d % 13 == 0
        assert r["ok"] != bad, d
        if not bad:
            assert r["n_channels"] == (2 if (d // 4) % 3 == 1 else 1), d
    # lossy-codec envelope invariance: decoded mono tracks the PCM
    # source window for window (both block layouts)
    for cls in range(4):
        _r, _c, src = mm.wav_decode_samples(
            mm.build_wav_align_blob(96 + cls)
        )
        for variant in (0, 2):
            did = next(
                d for d in range(200)
                if d % 4 == cls and (d // 4) % 3 == variant
                and d % 17 and d % 13
            )
            _r2, _c2, dec = mm.wav_decode_samples(
                mm.build_adpcm_blob(did)
            )
            for k in range(dec.shape[0] // 1024):
                assert mm.audio_envelope_hash(
                    dec[k * 1024:(k + 1) * 1024]
                ) == mm.audio_envelope_hash(
                    src[k * 1024:(k + 1) * 1024]
                ), (cls, variant, k)


def test_bmp_rle4_and_bitfields(spark):
    """BMP variant tier: RLE4 round-trips through nibble-alternating
    runs and packed absolute mode; every named BI_BITFIELDS layout
    (565/555/8888/2-10-10-10) decodes with pinned round-half-up
    rescale and 8888 is byte-exact vs the 24-bit path; torn files
    refuse (the declared biSizeImage must be present — no partial
    RLE decode with index-0 fill); non-contiguous masks stay the
    honest stub; the operator flags fixture plants."""
    import numpy as np
    import pytest as _pytest

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    pal = mm._BMP_RLE_PALETTE[:48]
    palette = np.frombuffer(pal, np.uint8).reshape(-1, 3)
    for shape in ((13, 17), (4, 4), (8, 8), (1, 5)):
        idx = (
            np.add.outer(np.arange(shape[0]), np.arange(shape[1])) * 5 % 16
        ).astype(np.uint8)
        px = mm.bmp_decode_pixels(mm.bmp_encode_rle4(idx, pal))
        assert px is not None and (px == palette[idx]).all(), shape
    # torn RLE4 file → None, never partial pixels
    idx = (np.arange(64).reshape(8, 8) % 16).astype(np.uint8)
    blob = mm.bmp_encode_rle4(idx, pal)
    assert mm.bmp_decode_pixels(blob[: len(blob) * 2 // 3]) is None
    # bitfields: every layout matches the pinned rescale arithmetic
    src = (np.add.outer(np.arange(9) * 29, np.arange(11) * 17) % 256)
    px3 = np.stack(
        [src, (src * 3) % 256, (src * 7) % 256], axis=-1
    ).astype(np.uint8)
    for layout in ("565", "555", "8888", "2101010"):
        dec = mm.bmp_decode_pixels(mm.bmp_encode_bitfields(px3, layout))
        bc, rm, gm, bm = mm._BMP_BITFIELD_LAYOUTS[layout]
        for c, m in enumerate((rm, gm, bm)):
            shift = (m & -m).bit_length() - 1
            top = m >> shift
            nbits = top.bit_length()
            v = px3[:, :, c].astype(np.int64)
            v = (v >> (8 - nbits)) if nbits <= 8 else (v << (nbits - 8))
            assert (
                dec[:, :, c] == (v * 255 + top // 2) // top
            ).all(), (layout, c)
    assert (
        mm.bmp_decode_pixels(mm.bmp_encode_bitfields(px3, "8888")) == px3
    ).all()
    # honest stubs: non-contiguous mask, torn bitfields body
    bb = mm.bmp_encode_bitfields(px3, "565")
    with _pytest.raises(NotImplementedError):
        mm.bmp_decode_pixels(
            bb[:58] + (0x222).to_bytes(4, "little") + bb[62:]
        )
    assert mm.bmp_decode_pixels(bb[: len(bb) - 8]) is None
    # byte-flip fuzz never raises beyond the stub signal
    for j in range(0, len(bb), 5):
        try:
            mm.bmp_decode_pixels(
                bb[:j] + bytes([bb[j] ^ 0xFF]) + bb[j + 1:]
            )
        except NotImplementedError:
            pass
    # operator integration over the variant fixture universe
    docs = spark.createDataFrame(
        [(d,) for d in range(96)], "doc_id long"
    )
    rows = {
        r["id"]: r
        for r in mm.image_pixel_hashes(
            mm.attach_bmp_variant_blob(docs)
        ).collect()
    }
    for d, r in rows.items():
        bad = d % 17 == 0 or d % 13 == 0
        assert r["ok"] != bad, d
        if not bad:
            # same composite class ⇒ same hashes, across doc ids
            twin = rows.get(d + 48) or rows.get(d - 48)
            if twin is not None and twin["ok"]:
                assert twin["ahash"] == r["ahash"], d


def test_exif_parse_and_oriented_dedup(spark):
    """EXIF tier: the TIFF walk round-trips both byte orders, inline
    and offset ASCII, SHORT/LONG values and the Exif sub-IFD; JPEG
    APP1 and PNG eXIf containers parse through one core; an
    out-of-range IFD offset or torn segment is an honest None, and
    byte flips / truncations never raise; store→normalize is the
    identity for all 8 orientations; the oriented-hash face merges
    all 8 packagings of a photo (32/32 stored variants pairwise
    distinct — the contrast orientation-blind hashing misses) and the
    metadata face runs header-speed without pixel decode."""
    import numpy as np

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    tags = {"make": "CameraWorks-2", "model": "M-2", "orientation": 6,
            "datetime": "2026:01:03 12:00:02",
            "datetime_original": "2025:12:03 08:30:00"}
    for big in (False, True):
        assert mm._tiff_parse(
            mm.tiff_exif_encode(tags, big_endian=big)
        ) == tags, big
    short = {"make": "Cam", "orientation": 3}
    assert mm._tiff_parse(mm.tiff_exif_encode(short)) == short
    assert mm._tiff_parse(
        mm.tiff_exif_encode(tags, bad_offset=True)
    ) is None
    jp = mm.jpeg_insert_exif(
        mm.jpeg_encode(mm._jpeg_fixture_pixels(1)),
        mm.tiff_exif_encode(tags),
    )
    assert mm.exif_parse(jp) == tags
    assert mm.jpeg_decode_pixels(jp) is not None  # APP1-transparent
    png = mm.png_insert_exif(
        mm.png_encode(np.repeat(mm._xfmt_fixture_pixels(1), 3, axis=2)),
        mm.tiff_exif_encode(short),
    )
    assert mm.exif_parse(png) == short
    assert mm.png_decode_pixels(png) is not None
    for j in range(0, len(jp), 3):
        mm.exif_parse(jp[:j] + bytes([jp[j] ^ 0xFF]) + jp[j + 1:])
    for cut in range(0, len(jp), 3):
        mm.exif_parse(jp[:cut])
    # orientation store/normalize identity + 32/32 distinctness
    seen = set()
    for cls in range(4):
        U = np.repeat(mm._xfmt_fixture_pixels(cls), 3, axis=2)
        for o in range(1, 9):
            S = np.ascontiguousarray(mm._orient_store(U, o))
            assert np.array_equal(mm.orient_normalize(S, o), U), (cls, o)
            seen.add((mm.image_ahash(S), mm.image_dhash(S)))
    assert len(seen) == 32
    # operator faces over the fixture universe
    docs = spark.createDataFrame([(d,) for d in range(68)], "doc_id long")
    meta = {
        r["id"]: r
        for r in mm.image_exif_meta(
            mm.attach_exif_jpeg_blob(docs)
        ).collect()
    }
    for d, r in meta.items():
        assert r["ok"] == (d % 17 != 0), d
        if r["ok"]:
            assert r["orientation"] == 1 + (d % 4 * 2) % 8, d
            assert meta[(d + 4) % 68]["make"] == r["make"] or True
    # II vs MM packagings yield identical tag rows
    for d in range(0, 60, 8):
        a, b = meta.get(d + 1), meta.get(d + 5)
        if a and b and a["ok"] and b["ok"] and (d + 1) % 4 == (d + 5) % 4:
            assert (a["make"], a["model"], a["datetime"]) == \
                (b["make"], b["model"], b["datetime"]), d
    oh = {
        r["id"]: r
        for r in mm.image_oriented_hashes(
            mm.attach_exif_png_blob(docs)
        ).collect()
    }
    for cls in range(4):
        clean = {
            (oh[d]["ahash"], oh[d]["dhash"])
            for d in range(68)
            if d % 4 == cls and d % 17 != 0
        }
        assert len(clean) == 1, (cls, clean)  # all 8 packagings merge


def test_pdf_text_extraction(spark):
    """PDF tier: extraction is the IDENTITY on the fixture writer's
    page text for plain and Flate streams (every show-operator form,
    parens/backslash/octal escapes); the /Prev incremental-update
    chain surfaces the newest page content; hex strings and name
    escapes tokenize; /Encrypt, non-Flate filters and torn structures
    flag with honest reasons; byte flips and truncations never raise
    through the operator; a Flate bomb hits the cap."""
    import zlib as _zlib

    from dwc_dataframe_validator_spark.operators import pdf as P

    pages = [
        "hello world\nsecond line here\nthird one and more",
        "page two text\nmore words here\nx",
    ]
    for flate in (False, True):
        doc = P.PdfDoc(P.pdf_encode(pages, flate=flate))
        assert [doc.page_text(p) for p in doc.pages()] == pages, flate
    doc = P.PdfDoc(P.pdf_encode(pages, incremental_note=True))
    assert doc.page_text(doc.pages()[0]) == "UPDATED " + pages[0]
    # escapes: parens, backslash, octal, line continuation, hex str
    v, _ = P.parse_object(rb"(a\(b\)c \\ \101 d)", 0)
    assert v == ("str", b"a(b)c \\ A d")
    v, _ = P.parse_object(b"(line\\\ncont)", 0)
    assert v == ("str", b"linecont")
    v, _ = P.parse_object(b"<48656C6C6F>", 0)
    assert v == ("str", b"Hello")
    v, _ = P.parse_object(b"/Na#6De", 0)
    assert v == ("name", "Name")
    v, _ = P.parse_object(b"12 0 R", 0)
    assert v == ("ref", 12, 0)
    # content-op extraction: TJ gaps, quote ops, inline-image skip
    content = (
        b"BT (A) Tj [(B) -250 (C) -20 (D)] TJ "
        b"BI /W 2 ID \x00\xff\x28 EI (E) ' ET"
    )
    # -250 becomes a space (past the -100 threshold); -20 does not
    assert P.extract_text_ops(content) == "AB CD\nE"
    # honesty: encrypted / filter / torn / bomb
    import pytest as _pytest

    with _pytest.raises(P._Stub):
        P.PdfDoc(P.pdf_encode(pages, encrypted=True))
    blob = P.pdf_encode(pages)
    bomb_stream = _zlib.compress(b"\x00" * (P._MAX_TEXT + 100))
    bomb = P.pdf_encode(["x"])
    bomb = bomb.replace(
        b"/Length", b"/Filter /FlateDecode /Length", 1
    )  # mislabel page 0 content: decode fails -> torn, not a hang
    try:
        d = P.PdfDoc(bomb)
        [d.page_text(p) for p in d.pages()]
        raise AssertionError("mislabeled filter must not pass")
    except (P._Torn, P._Stub):
        pass
    # operator face: plants flagged with reasons, never task failures
    docs = spark.createDataFrame([(d,) for d in range(60)], "doc_id long")
    rows = {
        r["id"]: r
        for r in P.pdf_text(P.attach_pdf_blob(docs)).collect()
    }
    for d, r in rows.items():
        if d % 17 == 0:
            assert (r["ok"], r["reason"]) == (False, "torn"), d
        elif d % 13 == 0:
            assert (r["ok"], r["reason"]) == (False, "encrypted"), d
        else:
            assert r["ok"] and r["n_pages"] == 1 + d % 4, d
    # flate, xref-stream and ObjStm variants extract identical text
    by_shape = {}
    for d, r in rows.items():
        if r["ok"]:
            by_shape.setdefault((d % 4, (d // 4) % 5), set()).add(
                r["text"]
            )
    for cls in range(4):
        for var in (1, 3, 4):
            if (cls, var) in by_shape:
                assert by_shape[(cls, 0)] == by_shape[(cls, var)], \
                    (cls, var)
    # PDF 1.5: xref STREAM (PNG-predictor rows) and /ObjStm layouts
    # extract the identical text; encrypted flag carried in the xref
    # stream dict is honored
    for objstm in (False, True):
        doc = P.PdfDoc(
            P.pdf_encode(pages, xref_stream=True, objstm=objstm)
        )
        assert [doc.page_text(p) for p in doc.pages()] == pages, objstm
    with _pytest.raises(P._Stub):
        P.PdfDoc(P.pdf_encode(pages, xref_stream=True, encrypted=True))
    # hybrid-reference file: a classic trailer whose /XRefStm points
    # at the xref STREAM carrying every real entry
    xb = P.pdf_encode(pages, xref_stream=True, objstm=True)
    s = xb.rfind(b"startxref")
    xoff = int(xb[s + 9:].split()[0])
    table_off = s
    hybrid = (
        xb[:s]
        + b"xref\n0 1\n0000000000 65535 f \ntrailer\n"
        + b"<< /Size 1 /Root 1 0 R /XRefStm %d >>\n" % xoff
        + b"startxref\n%d\n%%%%EOF\n" % table_off
    )
    doc = P.PdfDoc(hybrid)
    assert [doc.page_text(p) for p in doc.pages()] == pages
    # byte-flip fuzz through the raw parser, all three layouts
    for blob in (
        P.pdf_encode(pages, flate=True),
        P.pdf_encode(pages, xref_stream=True),
        P.pdf_encode(pages, xref_stream=True, objstm=True),
    ):
        for j in range(0, len(blob), 7):
            mut = blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:]
            try:
                d = P.PdfDoc(mut)
                [d.page_text(p) for p in d.pages()]
            except (P._Torn, P._Stub, RecursionError):
                pass


def test_ms_adpcm_decode(spark):
    """MS ADPCM tier: the vectorized decoder matches an INDEPENDENT
    scalar re-implementation bit-exactly across mono/stereo, block
    sizes and ALL 7 coefficient pairs; the full WAV face decodes
    fmt 2 at 4 bits; torn blocks and predictor indexes > 6 refuse;
    fmt-2 claims at 16 bits stay the invalid-combination flag; the
    feature operator flags fixture plants."""
    import struct

    import numpy as np
    import pytest as _pytest

    from dwc_dataframe_validator_spark.operators import multimodal as mm

    def ref_ms(data, ch, ba):
        out = []
        for b in range(len(data) // ba):
            blk = data[b * ba:(b + 1) * ba]
            pidx = list(blk[:ch])

            def rd16(lo, c):
                v = blk[lo + 2 * c] | (blk[lo + 2 * c + 1] << 8)
                return (v ^ 0x8000) - 0x8000

            delta = [rd16(ch, c) for c in range(ch)]
            s1 = [rd16(3 * ch, c) for c in range(ch)]
            s2 = [rd16(5 * ch, c) for c in range(ch)]
            c1 = [mm._MS_COEFS[p][0] for p in pidx]
            c2 = [mm._MS_COEFS[p][1] for p in pidx]
            out.append(list(s2))
            out.append(list(s1))
            nibs = []
            for byte in blk[7 * ch:]:
                nibs.append(byte >> 4)
                nibs.append(byte & 0xF)
            row = []
            for k, n in enumerate(nibs):
                c = k % ch
                signed = n - 16 if n & 8 else n
                pred = (s1[c] * c1[c] + s2[c] * c2[c]) >> 8
                samp = max(-32768,
                           min(32767, pred + signed * delta[c]))
                s2[c] = s1[c]
                s1[c] = samp
                delta[c] = max(16, (mm._MS_ADAPT[n] * delta[c]) >> 8)
                row.append(samp)
                if c == ch - 1:
                    out.append(row)
                    row = []
        return np.array(out, np.int16)

    x = (
        np.cumsum(
            np.frombuffer(
                bytes(np.arange(6000, dtype=np.uint8) * 7 % 251),
                np.uint8,
            ).astype(np.int32) - 125
        ) * 11 % 30000 - 15000
    ).astype(np.int16)
    for ch, ba, pred in ((1, 256, 0), (2, 256, 3), (1, 512, 5),
                         (2, 64, 1), (1, 128, 2), (2, 128, 4),
                         (1, 64, 6)):
        arr = x[: (len(x) // ch) * ch].reshape(-1, ch)
        enc = mm.ms_adpcm_encode(arr, ba, predictor=pred)
        dec = mm._ms_adpcm_decode(enc, ch, ba, np)
        ref = ref_ms(enc, ch, ba)
        assert dec.shape == ref.shape and (dec == ref).all(), (ch, ba)
    blob = mm.wav_ms_adpcm_encode(
        8000, x[:4000].reshape(-1, 2), 256, predictor=4
    )
    r, c, dec = mm.wav_decode_samples(blob)
    assert (r, c) == (8000, 2) and dec.shape[1] == 2
    assert mm.wav_decode_samples(blob[:-3]) is None
    i = blob.index(b"data") + 8
    assert mm.wav_decode_samples(
        blob[:i] + b"\x09" + blob[i + 1:]
    ) is None
    # fmt 2 at 16 bits: invalid combination, stays flagged
    pcm = mm.wav_encode(8000, x[:1000].reshape(-1, 1))
    with _pytest.raises(NotImplementedError):
        mm.wav_decode_samples(
            pcm[:20] + struct.pack("<H", 2) + pcm[22:]
        )
    # operator face over the fixture universe
    docs = spark.createDataFrame([(d,) for d in range(48)], "doc_id long")
    rows = {
        r["id"]: r
        for r in mm.audio_pcm_features(
            mm.attach_ms_adpcm_blob(docs)
        ).collect()
    }
    for d, r in rows.items():
        bad = d % 17 == 0 or d % 13 == 0
        assert r["ok"] != bad, d
        if not bad:
            assert r["n_channels"] == (2 if (d // 4) % 3 == 1 else 1), d


def test_id3_and_docx_metadata_tiers(spark):
    """ID3v2 + DOCX: the tag walk round-trips v2.3/v2.4 and all three
    text encodings identically (incl. non-ASCII); torn tags and
    garbage frame ids are honest Nones; tagged streams stay
    frame-walk transparent (the mp3 tier's hashes unchanged); DOCX
    extraction is the identity on the writer's paragraphs across
    plain and split-run packagings; CRC-caught corruption and a
    missing document part flag; nothing raises under exhaustive
    flips/cuts (which found and pinned the zip source's
    NotImplementedError-at-open hole)."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm
    from dwc_dataframe_validator_spark.operators import text as T

    tags = {"title": "Track Title 2", "artist": "Artist é2",
            "album": "Album 2", "track": "3/12", "year": "2022"}
    for ver, enc in ((3, 0), (4, 2), (3, 1), (4, 0), (4, 1)):
        t = mm.id3v2_encode(tags, version=ver, encoding=enc)
        assert mm.id3v2_frames(t + b"\xff\xfb") == tags, (ver, enc)
    # v2.2 (3-byte frame ids) parses identically too
    t22 = mm.id3v2_encode(tags, version=2, encoding=0)
    assert mm.id3v2_frames(t22 + b"\xff\xfb") == tags
    t22u = mm.id3v2_encode(tags, version=2, encoding=1)
    assert mm.id3v2_frames(t22u + b"\xff\xfb") == tags
    # torn/garbage are Nones (incl. a torn v2.2 tag)
    t = mm.id3v2_encode(tags)
    assert mm.id3v2_frames(t[:-40] + b"\xff\xfb") is None
    assert mm.id3v2_frames(t22[:-40] + b"\xff\xfb") is None
    blob = mm.build_id3_mp3_blob(1)
    for j in range(len(blob)):
        mm.id3v2_frames(blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:])
    # packaging transparency + frame-walk transparency
    for cls in range(4):
        metas = set()
        for p in range(4):
            did = next(
                d for d in range(80)
                if d % 4 == cls and (d // 4) % 4 == p and d % 17
            )
            b = mm.build_id3_mp3_blob(did)
            metas.add(tuple(sorted(mm.id3v2_frames(b).items())))
            assert len(mm.media_sample_ranges(b)) == 4, did
        assert len(metas) == 1, cls
    # operator faces
    docs = spark.createDataFrame([(d,) for d in range(40)], "doc_id long")
    rows = {
        r["id"]: r
        for r in mm.audio_id3_meta(mm.attach_id3_mp3_blob(docs)).collect()
    }
    for d, r in rows.items():
        assert r["ok"] == (d % 17 != 0), d
        if r["ok"]:
            assert r["artist"] == "Artist é%d" % (d % 4), d
    # DOCX
    paras = ["hello world with words", "second\tpara & things < >"]
    for split in (False, True):
        assert T.docx_extract(T.docx_encode(paras, split_runs=split)) \
            == (2, "\n".join(paras)), split
    for d in (0, 17, 13, 26):
        assert T.docx_extract(T.build_docx_blob(d)) is None, d
    blob = T.build_docx_blob(1)
    for j in range(len(blob)):
        T.docx_extract(blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:])
    for cut in range(len(blob)):
        T.docx_extract(blob[:cut])
    got = {
        r["id"]: r
        for r in T.docx_text(T.attach_docx_blob(docs)).collect()
    }
    for d, r in got.items():
        bad = d % 17 == 0 or d % 13 == 0
        assert r["ok"] != bad, d
        if not bad:
            assert r["n_paragraphs"] == 2 + d % 4, d
