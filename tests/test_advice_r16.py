"""Round-16 ADVICE-fix pins: torn-Flate prefixes flag instead of
silently truncating page text; freed xref entries are not resurrected
from older /Prev sections; ADPCM decode honors wSamplesPerBlock and
the fact chunk (block padding trimmed, lying declarations refused);
overlapping BI_BITFIELDS masks route to the honest stub."""
import struct
import zlib

import numpy as np
import pytest


def _mm():
    from dwc_dataframe_validator_spark.operators import multimodal
    return multimodal


def _pdf():
    from dwc_dataframe_validator_spark.operators import pdf
    return pdf


def test_pdf_torn_flate_prefix_flags():
    """A content stream whose compressed bytes form a valid deflate
    PREFIX (sync-flushed, no final block) must raise _Torn — not
    silently yield the partial page the prefix happens to decode to."""
    P = _pdf()
    doc = P.PdfDoc(P.pdf_encode(["hello there"], flate=True))
    body = b"BT (hello) Tj (world) Tj ET " * 20
    c = zlib.compressobj()
    prefix = c.compress(body) + c.flush(zlib.Z_SYNC_FLUSH)
    # sanity: the prefix IS decompressible (the silent-truncation trap)
    d = zlib.decompressobj()
    assert d.decompress(prefix) == body and not d.eof
    with pytest.raises(P._Torn):
        doc._decoded({"Filter": ("name", "FlateDecode")}, prefix)
    # a COMPLETE stream still decodes
    assert doc._decoded(
        {"Filter": ("name", "FlateDecode")}, zlib.compress(body)
    ) == body


def test_pdf_freed_object_not_resurrected():
    """An incremental update that FREES an object must win over the
    older /Prev section that still defines it: the dangling /Contents
    ref resolves to the null object (empty page, ISO 32000 §7.3.10 —
    r16 ADVICE), NEVER to the resurrected stale text."""
    P = _pdf()
    base = P.pdf_encode(["old page text"])
    doc = P.PdfDoc(base)
    assert doc.page_text(doc.pages()[0]) == "old page text"
    s = base.rfind(b"startxref")
    old_xref = int(base[s + 9:].split()[0])
    new_xref = len(base)
    upd = (
        base
        + b"xref\n5 1\n0000000000 65535 f \n"
        + b"trailer\n<< /Size 6 /Root 1 0 R /Prev %d >>\n" % old_xref
        + b"startxref\n%d\n%%%%EOF\n" % new_xref
    )
    doc2 = P.PdfDoc(upd)
    assert [doc2.page_text(p) for p in doc2.pages()] == [""]
    # the free entry itself resolves to null, not _Torn …
    assert doc2.get(5) is None
    # … while a never-defined object is still an honest tear
    with pytest.raises(P._Torn):
        doc2.get(99)


def _ima_wav(n=2525, ba=256):
    mm = _mm()
    x = (
        np.cumsum(np.arange(n, dtype=np.int64) * 13 % 97 - 48)
        * 7 % 28000 - 14000
    ).astype(np.int16).reshape(-1, 1)
    return mm.wav_adpcm_encode(8000, x, ba)


def test_ima_wav_samples_per_block_and_fact_trim():
    """wSamplesPerBlock below block capacity trims every block's
    spurious padding nibbles; the fact chunk trims the total; a
    declaration exceeding capacity, or a fact total exceeding the
    data, refuses (honest None)."""
    mm = _mm()
    ba, ch = 256, 1
    spb = (ba - 4 * ch) * 2 // ch + 1  # natural per-block frames
    blob = bytearray(_ima_wav(ba=ba))
    # fixed layout written by wav_adpcm_encode:
    # RIFF(12) fmt hdr(8) fmt_body(20) fact hdr(8) fact(4) data...
    WSPB_OFF, FACT_OFF = 12 + 8 + 18, 12 + 8 + 20 + 8
    assert struct.unpack_from("<H", blob, WSPB_OFF)[0] == spb
    rate, c0, full = mm.wav_decode_samples(bytes(blob))
    n_blocks = full.shape[0] // spb
    assert n_blocks >= 2
    # 1) fact smaller than capacity: final-block padding trimmed
    t = bytearray(blob)
    struct.pack_into("<I", t, FACT_OFF, n_blocks * spb - 10)
    _r, _c, arr = mm.wav_decode_samples(bytes(t))
    assert arr.shape[0] == n_blocks * spb - 10
    assert (arr == full[: arr.shape[0]]).all()
    # 2) wSamplesPerBlock below capacity: EVERY block trimmed
    t = bytearray(blob)
    struct.pack_into("<H", t, WSPB_OFF, spb - 8)
    struct.pack_into("<I", t, FACT_OFF, n_blocks * (spb - 8))
    _r, _c, arr = mm.wav_decode_samples(bytes(t))
    want = full.reshape(n_blocks, spb, 1)[:, : spb - 8, :].reshape(-1, 1)
    assert arr.shape == want.shape and (arr == want).all()
    # 3) declared per-block frames beyond physical capacity: a lie
    t = bytearray(blob)
    struct.pack_into("<H", t, WSPB_OFF, spb + 5)
    assert mm.wav_decode_samples(bytes(t)) is None
    # 4) fact claims more frames than the data holds: a lie
    t = bytearray(blob)
    struct.pack_into("<I", t, FACT_OFF, n_blocks * spb + 5)
    assert mm.wav_decode_samples(bytes(t)) is None


def test_ms_adpcm_wspb_trim_direct():
    """The MS decoder's wspb path: trims per block, refuses < 2 or
    beyond capacity; None default unchanged."""
    mm = _mm()
    ba, ch = 128, 1
    spb = 2 + (ba - 7 * ch) * 2 // ch
    x = (
        np.cumsum(np.arange(spb * 3, dtype=np.int64) * 11 % 89 - 44)
        * 5 % 26000 - 13000
    ).astype(np.int16).reshape(-1, 1)
    enc = mm.ms_adpcm_encode(x, ba, predictor=0)
    full = mm._ms_adpcm_decode(enc, ch, ba, np)
    nb = len(enc) // ba
    got = mm._ms_adpcm_decode(enc, ch, ba, np, spb - 6)
    want = full.reshape(nb, spb, ch)[:, : spb - 6, :].reshape(-1, ch)
    assert got.shape == want.shape and (got == want).all()
    assert mm._ms_adpcm_decode(enc, ch, ba, np, spb + 1) is None
    assert mm._ms_adpcm_decode(enc, ch, ba, np, 1) is None
    # the WAV face (fmt 2) still decodes the canonical encoder output
    wav = mm.wav_ms_adpcm_encode(8000, x, ba)
    _r, _c, arr = mm.wav_decode_samples(wav)
    assert (arr == full).all()


def test_bmp_overlapping_bitfields_stub():
    """Pairwise-overlapping BI_BITFIELDS masks raise the honest stub
    (each mask alone is contiguous and in range — previously decoded
    silently)."""
    mm = _mm()
    src = (np.add.outer(np.arange(6) * 31, np.arange(7) * 13) % 256)
    px3 = np.stack(
        [src, (src * 3) % 256, (src * 7) % 256], axis=-1
    ).astype(np.uint8)
    bb = mm.bmp_encode_bitfields(px3, "565")
    assert mm.bmp_decode_pixels(bb) is not None
    # green mask 0x1800: contiguous, inside 16 bits, overlaps red
    # (0xF800) at bit 11
    mut = bb[:58] + (0x1800).to_bytes(4, "little") + bb[62:]
    with pytest.raises(NotImplementedError):
        mm.bmp_decode_pixels(mut)


def test_mp3_in_riff_closes_the_last_wav_stub():
    """WAV fmt 0x55: the frame-sync walk runs over the RIFF data
    chunk with blob-relative offsets — re-wrap transparency (bare ==
    RIFF frame-for-frame), head-trim overlap, torn/relabel plants
    refuse, PCM WAVs stay out of the encoded tier, and sample decode
    of fmt 0x55 remains the honest codec stub."""
    import hashlib

    mm = _mm()

    def hashes(b):
        rs = mm.media_sample_ranges(b)
        return [
            hashlib.md5(mm._sample_bytes(b, r)).hexdigest() for r in rs
        ]

    for cls in range(4):
        ids = {}
        for var in range(3):
            ids[var] = next(
                d for d in range(1000)
                if d % 4 == cls and (d // 4) % 3 == var
                and d % 17 and d % 13
            )
        b0, b1, b2 = (
            mm.build_wav_mp3_blob(ids[v]) for v in range(3)
        )
        assert b0[:4] != b"RIFF" and b1[:4] == b"RIFF"
        assert hashes(b0) == hashes(b1), cls
        assert hashes(b1)[1:] == hashes(b2), cls
    for d in range(120):
        if d % 17 == 0 or d % 13 == 0:
            assert mm.media_sample_ranges(
                mm.build_wav_mp3_blob(d)
            ) is None, d
    # PCM WAV: not an encoded-sample container
    assert mm.media_sample_ranges(mm.build_wav_blob(1)) is None
    # fmt 0x55 sample decode stays the honest stub
    with pytest.raises(NotImplementedError):
        mm.wav_decode_samples(mm.build_wav_mp3_blob(5))
    # byte-flip fuzz: flags only
    blob = mm.build_wav_mp3_blob(5)
    for j in range(0, len(blob), 9):
        mm.media_sample_ranges(
            blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:]
        )


def test_tiff_pixel_decode_tier():
    """TIFF strips: all five packagings (none / LZW / LZW+predictor /
    multi-strip PackBits / big-endian WhiteIsZero) are lossless per
    class; the LZW core round-trips across every code-width boundary
    and under dictionary-reset pressure; stub compressions flag,
    torn strips refuse, fuzz never raises."""
    mm = _mm()
    rng = np.random.RandomState(11)
    for alpha in (2, 5, 256):
        for n in (509, 510, 511, 512, 1021, 1022, 1023, 1024,
                  2046, 2047, 2048, 40000):
            data = bytes(rng.randint(0, alpha, n, dtype=np.uint8))
            enc = mm._tiff_lzw_encode(data)
            assert mm._tiff_lzw_decode(enc, n + 16) == data, (alpha, n)
    for data in (b"", b"abc", b"x" * 999,
                 bytes(rng.randint(0, 256, 4000, dtype=np.uint8))):
        assert mm._packbits_decode(
            mm._packbits_encode(data), len(data) + 16
        ) == data
    for cls in range(6):
        base = mm._tiff_fixture_pixels(cls)
        for v, kw in enumerate(mm._TIFF_VARIANTS):
            px = base
            if kw.get("g4") or kw.get("fax_mode"):
                # the fax spelling is bilevel: threshold the luma
                if px.shape[2] == 3:
                    px = (
                        (
                            px[:, :, 0].astype(np.int64) * 299
                            + px[:, :, 1].astype(np.int64) * 587
                            + px[:, :, 2].astype(np.int64) * 114
                        ) // 1000
                    ).astype(np.uint8)[:, :, None]
                px = np.where(px >= 128, 255, 0).astype(np.uint8)
            blob = mm.tiff_encode(px, **kw)
            dec = mm.tiff_decode_pixels(blob)
            if kw.get("jpeg"):
                want = mm.jpeg_decode_pixels(mm.jpeg_encode(px))
            elif kw.get("palette") and px.shape[2] == 1:
                want = np.repeat(px, 3, axis=2)  # gray → (g,g,g)
            else:
                want = px
            assert dec is not None and (dec == want).all(), (cls, v)
            # the shared dispatch reaches it too
            assert (
                mm.decode_image_pixels(blob) == want
            ).all(), (cls, v)
    # plants
    for d in range(120):
        blob = mm.build_tiff_blob(d)
        if d % 17 == 0:
            assert mm.tiff_decode_pixels(blob) is None, d
        elif d % 13 == 0:
            with pytest.raises(NotImplementedError):
                mm.tiff_decode_pixels(blob)
    # honest stubs: tiled / planar / 16-bit / palette markers
    base = mm.tiff_encode(mm._tiff_fixture_pixels(0))
    for old, new in (
        (b"\x15\x01\x03\x00\x01\x00\x00\x00\x01\x00",
         b"\x15\x01\x03\x00\x01\x00\x00\x00\x09\x00"),  # spp 9
    ):
        if old in base:
            with pytest.raises(NotImplementedError):
                mm.tiff_decode_pixels(base.replace(old, new))
    # fuzz
    for basecls in (1, 7, 14, 20, 27):
        blob = mm.build_tiff_blob(basecls)
        for j in range(0, len(blob), 7):
            for mut in (
                blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:],
                blob[:j],
            ):
                try:
                    mm.tiff_decode_pixels(mut)
                except NotImplementedError:
                    pass


def test_ico_favicon_decode_tier():
    """ICO/CUR: all three packagings (32-bpp DIB, PNG-in-ICO,
    two-entry largest-pick) decode identical pixels equal to the
    shared gradient classes; plants flag; fuzz never raises; the
    shared dispatch reaches it."""
    mm = _mm()
    from dwc_dataframe_validator_spark.operators.pdf import (
        _pdf_image_fixture_pixels,
    )

    for cls in range(6):
        px = _pdf_image_fixture_pixels(cls)
        for blob in (
            mm.ico_encode([px]),
            mm.ico_encode([px], png_entry=True),
            mm.ico_encode([px], pal8=True),
            mm.ico_encode([px[::2, ::2].copy(), px]),
        ):
            dec = mm.ico_decode_pixels(blob)
            assert dec is not None and (dec == px).all(), cls
            assert (mm.decode_image_pixels(blob) == px).all()
    for d in range(120):
        blob = mm.build_ico_blob(d)
        if d % 17 == 0:
            assert mm.ico_decode_pixels(blob) is None, d
        elif d % 13 == 0:
            try:
                assert mm.ico_decode_pixels(blob) is None, d
            except NotImplementedError:
                pass
    for base in (1, 7, 14):
        blob = mm.build_ico_blob(base)
        for j in range(0, len(blob), 5):
            for mut in (
                blob[:j] + bytes([blob[j] ^ 0xFF]) + blob[j + 1:],
                blob[:j],
            ):
                try:
                    mm.ico_decode_pixels(mut)
                except NotImplementedError:
                    pass
    # 8-bpp honors biClrUsed (small palettes) and refuses index lies
    quad = np.zeros((16, 16, 3), np.uint8)
    quad[:8, :8] = (255, 0, 0)
    quad[:8, 8:] = (0, 255, 0)
    quad[8:, :8] = (0, 0, 255)
    quad[8:, 8:] = (200, 200, 0)
    blob = mm.ico_encode([quad], pal8=True)
    assert (mm.ico_decode_pixels(blob) == quad).all()
    mut = bytearray(blob)
    mut[-((16 + 31) // 32 * 4 * 16) - 1] = 250
    assert mm.ico_decode_pixels(bytes(mut)) is None
