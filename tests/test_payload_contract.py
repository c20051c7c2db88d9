"""The payload failure contract of ``functions/payload_cache.map_payloads``:
a NULL, empty, random, truncated or hostile payload is a flagged row (or,
for row-expanding decoders, no row) — never a failed task or query.  One
frame of bad payloads runs through every converted decoder, and the WARC
record gunzip is pinned against truncated, corrupt and bomb members."""

import gzip
import random
import zlib

import pytest

from dwc_dataframe_validator_spark.operators import multimodal as mm
from dwc_dataframe_validator_spark.operators import pdf, text
from dwc_dataframe_validator_spark.sources import tar, warc, zip as zipsrc
from tests.test_operators import _JPEG_V0_MUTANT


def _half(blob: bytes) -> bytes:
    return blob[: len(blob) // 2]


def _head(blob: bytes) -> bytes:
    # header-only decoders and salvaging container/mail walkers accept
    # a half blob (a whole first member or message), so cut inside the
    # first header instead
    return blob[:11]


def _gz_record() -> bytes:
    return gzip.compress(
        warc.build_warc_record("http://t.example/", b"hello " * 200),
        mtime=0,
    )


# (decoder, fixture builder, cut, bad tails); ``()`` = no row
DECODERS = {
    "decode_images": (
        mm.decode_images, lambda: mm.build_png_blob(1), _head,
        ((0, 0, 0, False),)),
    "decode_media_headers": (
        mm.decode_media_headers, lambda: mm.build_media_blob(1), _head,
        ((None, None, None, None, None, False),)),
    "sample_frames": (
        mm.sample_frames, lambda: mm.build_avi_blob(1), _half, ()),
    "image_pixel_hashes": (
        mm.image_pixel_hashes, lambda: mm.build_png_blob(1), _half,
        ((0, 0, 0, None, None, False),)),
    "resize_images": (
        lambda df: mm.resize_images(df, 8, 8),
        lambda: mm.build_jpeg_blob(1), _half,
        ((0, 0, 0, None, False),)),
    "audio_pcm_features": (
        mm.audio_pcm_features, lambda: mm.build_wav_blob(1), _half,
        ((0, 0, 0, 0, 0, 0, 0, False),)),
    "resample_audio": (
        lambda df: mm.resample_audio(df, 8000),
        lambda: mm.build_wav_codec_blob(1), _half,
        ((0, 0, 0, None, False),)),
    "audio_envelope_hashes": (
        mm.audio_envelope_hashes, lambda: mm.build_wav_blob(1), _half,
        ((0, 0, None, False),)),
    "audio_window_hashes": (
        mm.audio_window_hashes, lambda: mm.build_wav_align_blob(1), _half,
        ((None, None, None, False),)),
    "video_frame_hashes": (
        mm.video_frame_hashes, lambda: mm.build_avi_blob(1), _half,
        ((None, None, 0, 0, None, None, False),)),
    "mp4_sample_hashes": (
        mm.mp4_sample_hashes, lambda: mm.build_mp4_blob(1), _half,
        ((None, None, None, False),)),
    "image_exif_meta": (
        mm.image_exif_meta, lambda: mm.build_exif_jpeg_blob(1), _head,
        ((None, None, None, None, None, False),)),
    "image_oriented_hashes": (
        mm.image_oriented_hashes, lambda: mm.build_exif_png_blob(1), _half,
        ((None, None, False),)),
    "audio_id3_meta": (
        mm.audio_id3_meta, lambda: mm.build_id3_mp3_blob(1), _head,
        ((None, None, None, None, None, False),)),
    "pdf_text": (
        pdf.pdf_text, lambda: pdf.build_pdf_blob(1), _half,
        ((None, None, None, False, "torn"),)),
    "pdf_image_hashes": (
        pdf.pdf_image_hashes, lambda: pdf.build_pdf_image_blob(1), _half,
        ((0, 0, 0, 0, 0, None, None, False, "torn"),)),
    "docx_text": (
        text.docx_text, lambda: text.build_docx_blob(1), _half,
        ((None, None, None, False),)),
    "xlsx_text": (
        text.xlsx_text, lambda: text.build_xlsx_blob(1), _half,
        ((None, None, None, None, False),)),
    "pptx_text": (
        text.pptx_text, lambda: text.build_pptx_blob(1), _half,
        ((None, None, None, False),)),
    "epub_text": (
        text.epub_text, lambda: text.build_epub_blob(1), _half,
        ((None, None, None, False),)),
    "rtf_text": (
        text.rtf_text, lambda: text.build_rtf_blob(1), _half,
        ((None, None, None, False),)),
    "eml_text": (
        text.eml_text, lambda: text.build_eml_blob(1), _head,
        ((None, None, None, None, None, False),)),
    "odf_text": (
        text.odf_text, lambda: text.build_odf_blob(1), _half,
        ((None, None, None, None, False),)),
    "mbox_text": (
        text.mbox_text, lambda: text.build_mbox_blob(1), _head,
        ((None, None, None, False),)),
    "decode_warc_records": (
        lambda df: warc.decode_warc_records(df, "content"),
        _gz_record, _half,
        ((None, None, None, None, None, None, False),)),
    "decode_warc_records_text": (
        lambda df: warc.decode_warc_records_text(df, "content"),
        _gz_record, _half,
        ((None, None, None, None, None, None, None, False),)),
    "zstd_dict_decode": (
        lambda df: warc.zstd_dict_decode(df, warc.zstd_dict_fixture()[0]),
        lambda: warc.build_zstd_dict_blob(1), _half,
        ((None, None, False),)),
    "decode_tar_records": (
        tar.decode_tar_records, lambda: tar.build_tar_blob(1), _head,
        ((0, None, None, None, None, None, False),)),
    "decode_zip_records": (
        zipsrc.decode_zip_records, lambda: zipsrc.build_zip_blob(1), _head,
        ((0, None, None, None, None, None, False),)),
}


#: pixel decoders also get the frozen JPEG mutant whose zero sampling
#: factor once failed the query (header-only decoders rightly accept it)
PIXEL_DECODERS = {"image_pixel_hashes", "resize_images",
                  "image_oriented_hashes"}


@pytest.mark.parametrize("name", sorted(DECODERS))
def test_bad_payloads_are_bad_rows(spark, name):
    decode, build, cut, bad = DECODERS[name]
    payloads = [None, b"", random.Random(64).randbytes(64), cut(build())]
    if name in PIXEL_DECODERS:
        payloads.append(_JPEG_V0_MUTANT)
    df = spark.createDataFrame(
        [(i, p) for i, p in enumerate(payloads)], "id long, content binary"
    )
    got = {}
    for r in decode(df).collect():
        got.setdefault(r[0], []).append(tuple(r)[1:])
    for i in range(len(payloads)):
        assert got.get(i, []) == list(bad), (name, i, got.get(i))


def _bomb_record(inflated: int = 72 << 20) -> bytes:
    """A gzip WARC record whose payload inflates past the 64 MiB body
    cap, compressed chunk by chunk so the test never holds it."""
    co = zlib.compressobj(9, zlib.DEFLATED, 16 + 15)
    head = (
        b"WARC/1.0\r\nWARC-Type: response\r\n"
        b"WARC-Target-URI: http://bomb.example/\r\n"
        + f"Content-Length: {inflated}\r\n\r\n".encode()
    )
    out = [co.compress(head)]
    zeros = bytes(1 << 20)
    for _ in range(inflated >> 20):
        out.append(co.compress(zeros))
    out.append(co.compress(b"\r\n\r\n"))
    out.append(co.flush())
    return b"".join(out)


@pytest.mark.parametrize(
    "decode", [warc.decode_warc_records, warc.decode_warc_records_text]
)
def test_warc_record_gunzip_is_capped_and_guarded(spark, decode):
    good = _gz_record()
    flipped = bytearray(good)
    flipped[len(good) // 2] ^= 0xFF
    rows = [
        (0, good),
        (1, good[:-20]),          # torn member: EOFError
        (2, bytes(flipped)),      # corrupt deflate stream
        (3, _bomb_record()),      # inflates past the body cap
    ]
    df = spark.createDataFrame(rows, "id long, record binary")
    ok = {r["id"]: r["ok"] for r in decode(df).collect()}
    assert ok == {0: True, 1: False, 2: False, 3: False}


def test_iter_warc_records_truncated_gzip_file():
    recs = [
        warc.build_warc_record(f"http://t.example/{k}", b"x" * 300)
        for k in range(3)
    ]
    whole = b"".join(gzip.compress(r, mtime=0) for r in recs)
    got = list(warc.iter_warc_records(whole))
    assert [ok for _h, _p, ok in got] == [True, True, True]
    # cut inside the last member: the reader stops with one flagged
    # row instead of raising EOFError
    cut = whole[: len(whole) - len(gzip.compress(recs[2], mtime=0)) // 2]
    got = list(warc.iter_warc_records(cut))
    assert got[-1] == (None, None, False)
    assert all(ok for _h, _p, ok in got[:-1])
    # a byte flipped inside a deflate stream: zlib.error, same contract
    bad = bytearray(whole)
    bad[len(whole) // 2] ^= 0xFF
    got = list(warc.iter_warc_records(bytes(bad)))
    assert got[-1] == (None, None, False)
