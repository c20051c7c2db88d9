"""Round-19 optimization pins: the per-task decode-once-per-distinct-
payload cache (functions/payload_cache.py) must be a pure pass-through
— identical rows, decode called once per distinct payload, bounded
memory — and the operators that adopted it must keep their exact
output on mixed duplicate/null/corrupt inputs."""

from __future__ import annotations

import pytest

from dwc_dataframe_validator_spark.functions.payload_cache import payload_memo


def test_payload_memo_dedups_calls_and_preserves_values():
    calls = []

    def decode(b: bytes):
        calls.append(bytes(b))
        return (len(b), b[:1])

    memo = payload_memo(decode)
    assert memo(b"abc") == (3, b"a")
    assert memo(b"abc") == (3, b"a")
    assert memo(b"xy") == (2, b"x")
    assert memo(bytearray(b"abc")) == (3, b"a")  # buffer types share keys
    assert calls == [b"abc", b"xy"]


def test_payload_memo_overflow_resets_and_stays_correct():
    calls = []

    def decode(b: bytes):
        calls.append(bytes(b))
        return len(b)

    memo = payload_memo(decode, maxsize=4)
    payloads = [bytes([k]) * (k + 1) for k in range(10)]
    for p in payloads:
        assert memo(p) == len(p)
    # every distinct payload decoded (no wrong hits), cache reset kept
    # the total call count bounded by the input count
    assert calls == payloads
    # second pass over the LAST two entries hits the post-reset cache
    # (reset fires on the insert that would exceed maxsize, so p8/p9
    # are resident after the first pass)
    for p in payloads[-2:]:
        assert memo(p) == len(p)
    assert len(calls) == len(payloads)


def test_builder_memo_keys_reproduce_bytes():
    """Every r19-memoized fixture builder must emit BYTE-IDENTICAL
    blobs for ids sharing its reduced key — probed against the
    undecorated builder over a span of the id domain."""
    from dwc_dataframe_validator_spark.operators import text as TX
    from dwc_dataframe_validator_spark.sources import tar as T
    from dwc_dataframe_validator_spark.sources import warc as W
    from dwc_dataframe_validator_spark.sources import zip as Z

    for wrapped in (
        W.build_encoded_http_blob, W.build_content_encoding_blob,
        W.build_charset_http_blob, W.build_zstd_dict_blob,
        TX.build_subtitle_text, TX.build_docx_blob, TX.build_xlsx_blob,
        TX.build_pptx_blob, TX.build_epub_blob, TX.build_rtf_blob,
        TX.build_eml_blob, TX.build_odf_blob, TX.build_mbox_blob,
        T.build_tar_blob, Z.build_zip_blob,
    ):
        raw = wrapped.__wrapped__
        for d in range(0, 600):
            assert wrapped(d) == raw(d), (wrapped.__name__, d)


@pytest.fixture(scope="module")
def spark():
    from dwc_dataframe_validator_spark.sources.tables import local_session

    s = local_session("test-opt-r19", cpus=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_image_pixel_hashes_identical_on_duplicate_rows(spark):
    """The memoized mapper must emit per-ROW results identical to the
    per-payload ground truth on a frame with heavy duplication, nulls
    and corrupt blobs — the exact contract the r19 optimization must
    not bend."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm

    blob_a = mm.build_png_blob(1)
    blob_b = mm.build_png_blob(2)
    rows = [
        (1, blob_a), (2, blob_b), (3, blob_a), (4, None),
        (5, blob_a[: len(blob_a) // 2]), (6, blob_b), (7, blob_a),
        (8, blob_a[: len(blob_a) // 2]),
    ]
    df = spark.createDataFrame(rows, "id long, content binary")
    got = {
        r["id"]: (r["width"], r["height"], r["channels"],
                  r["ahash"], r["dhash"], r["ok"])
        for r in mm.image_pixel_hashes(df).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5, 6, 7, 8}
    # ground truth straight through the decoder, per row
    def truth(b):
        if b is None:
            return (0, 0, 0, None, None, False)
        try:
            px = mm.decode_image_pixels(bytes(b))
        except NotImplementedError:
            px = None
        if px is None:
            return (0, 0, 0, None, None, False)
        h, w, ch = px.shape
        return (w, h, ch, format(mm.image_ahash(px), "016x"),
                format(mm.image_dhash(px), "016x"), True)

    for rid, blob in rows:
        assert got[rid] == truth(blob), rid
    # duplicates really landed on identical rows
    assert got[1] == got[3] == got[7]
    assert got[5] == got[8] and got[5][5] is False


def test_video_frame_hashes_identical_on_duplicate_rows(spark):
    """Row-expanding mapper twin of the test above: duplicated AVI
    payloads must expand to identical per-frame row sets."""
    from dwc_dataframe_validator_spark.operators import multimodal as mm

    blob = mm.build_avi_trim_blob(1)
    torn = mm.build_avi_trim_blob(17)  # %17 → truncated, ok=false
    df = spark.createDataFrame(
        [(1, blob), (2, torn), (3, blob), (4, None)],
        "id long, content binary",
    )
    out = mm.video_frame_hashes(df).collect()
    by_id = {}
    for r in out:
        by_id.setdefault(r["id"], []).append(
            (r["frame_idx"], r["n_frames"], r["width"], r["height"],
             r["ahash"], r["dhash"], r["ok"])
        )
    assert sorted(by_id[1]) == sorted(by_id[3])
    assert len(by_id[1]) == 4 and all(t[6] for t in by_id[1])
    assert by_id[2] == [(None, None, 0, 0, None, None, False)]
    assert by_id[4] == [(None, None, 0, 0, None, None, False)]
