"""``Content-Encoding: br`` pins, all through the public decode entry
(``sources/warc.py`` ``_brotli_decode`` / ``_decompress_body``, which
read pyarrow's native brotli codec): embedded reference-codec vectors
(static dictionary, word transforms, UTF-8/signed context modes);
round-trips of pyarrow's own encoder across qualities, of the in-repo
stored framing, and of Node's reference codec (when present) across
qualities and windows; fuzz never
raises past the honest ``None``; the WARC ``br`` path decodes
compressed metablocks; the RFC 7932 metadata-length edge streams."""
import base64
import hashlib
import json
import random
import shutil
import subprocess

import pyarrow as pa
import pytest

from dwc_dataframe_validator_spark.sources import warc as W

# (sha256-of-plaintext, base64 brotli stream) — reference-codec
# generated; they exercise dictionary+transforms, HTML attributes,
# UTF-8 context, low-entropy block switching, and a q5 source file
VECTORS = [
    ('3ae4515e7b8910ff138b2ce6934815e0576d6c7a6f331d76d64cba286c1ea00a',
     'G2QAYKVBXKjQgEMOnJKUvkXXWjRCtfz+ocUhtQDMHyN43BU='),
    ('79628c5f17d368d6736a5923c39b1414c854867d4d7f89508c3c3c1a58a1823b',
     'G4AAYIyUqeNb8xTN3SmfMKjJAfv/Tn4BZVYLcxsb0ynmiKJXEHdogvyBYYLMAFkf'
     '7KgQL0Qt4Wbp96mcJQ0='),
    ('97880e409549f62af4703470cf450b47facfcdcd57cf66917d6d664a6993a170',
     'G7cB+B0HbizHqH0pP5Ud6cTviR8WBodMz1EWZfN5wEWvWKhBjp2JF0mElRHN+KGv'
     'Jio9NQsjWKm7CTl1AqZlw/X8wHQH'),
    ('59b1defbbf2c76524d463ddb829d4bb3546573b14ee2cb32fc530ef6156b89da',
     'E58PAMQN4NKMAyPo6QAA429dcQM='),
]


def _compress(data, q):
    return pa.Codec("brotli", compression_level=q).compress(
        data, asbytes=True
    )


def test_embedded_vectors_decode():
    for want_sha, b64 in VECTORS:
        out = W._brotli_decode(base64.b64decode(b64))
        assert hashlib.sha256(out).hexdigest() == want_sha


def _corpus():
    rng = random.Random(7)
    return [
        b"",
        b"a",
        b"hello hello hello world",
        b"the quick brown fox jumps over the lazy dog. " * 40,
        "naïve café — ελληνικά, 中文文本 ".encode() * 30,
        bytes(rng.randrange(256) for _ in range(3000)),
        bytes([rng.randrange(4) for _ in range(20000)]),
        (b"<p>web content with attributes and links</p>" * 100),
    ]


def test_pyarrow_codec_roundtrip():
    for q in (0, 5, 11):
        for t in _corpus():
            assert W._brotli_decode(_compress(t, q)) == t
            assert W._decompress_body(_compress(t, q), b"br") == t


def test_encoder_twin_roundtrip():
    # the in-repo encoder is the stored-mode framing of the fixtures;
    # the last item spans several 64 KiB metablocks
    for t in _corpus() + [bytes(range(256)) * 600]:
        assert W._brotli_decode(W.brotli_store(t)) == t
        assert W._decompress_body(W.brotli_store(t), b"br") == t


_NODE = shutil.which("node")

# Node's zlib is the reference codec: "c" compresses every item at
# every (quality, window); "d" decompresses every item, or yields
# null where the reference decoder rejects it.
_NODE_JS = r"""
const z = require('zlib');
const chunks = [];
process.stdin.on('data', (c) => chunks.push(c));
process.stdin.on('end', () => {
  const req = JSON.parse(Buffer.concat(chunks).toString());
  const items = req.items.map((b) => Buffer.from(b, 'base64'));
  const out = [];
  if (req.mode === 'd') {
    for (const d of items) {
      try { out.push(z.brotliDecompressSync(d).toString('base64')); }
      catch (e) { out.push(null); }
    }
  } else {
    for (const [q, w] of req.params) {
      for (const d of items) {
        out.push(z.brotliCompressSync(d, {params: {
          [z.constants.BROTLI_PARAM_QUALITY]: q,
          [z.constants.BROTLI_PARAM_LGWIN]: w,
          [z.constants.BROTLI_PARAM_SIZE_HINT]: d.length,
        }}).toString('base64'));
      }
    }
  }
  process.stdout.write(JSON.stringify(out));
});
"""


def _node(req):
    req = dict(req, items=[base64.b64encode(t).decode()
                           for t in req["items"]])
    r = subprocess.run(["node", "-e", _NODE_JS],
                       input=json.dumps(req).encode(),
                       capture_output=True, timeout=120)
    assert r.returncode == 0, r.stderr[:300]
    return [None if o is None else base64.b64decode(o)
            for o in json.loads(r.stdout)]


@pytest.mark.skipif(_NODE is None, reason="node not present")
def test_node_cross_validation():
    corpus = _corpus()
    params = [(q, w) for q in (0, 1, 2, 4, 5, 7, 9, 10, 11)
              for w in (10, 18, 22, 24)]
    streams = _node({"mode": "c", "params": params, "items": corpus})
    assert len(streams) == len(params) * len(corpus)
    for i, enc in enumerate(streams):
        t = corpus[i % len(corpus)]
        assert W._brotli_decode(enc) == t
        assert W._decompress_body(enc, b"br") == t
    # node's reference decoder accepts the in-repo stored framing and
    # agrees with the decode entry on the RFC 7932 metadata edge streams
    assert _node({"mode": "d",
                  "items": [W.brotli_store(t) for t in corpus]}) == corpus
    edges = [bytes([0x2C, 0x00, 0xAA, 0x03]),
             bytes([0xCC, 0x02, 0x00, 0x00, 0x03]),
             bytes([0xEA, 0xFF, 0x1F, 0x00])]
    assert _node({"mode": "d", "items": edges}) == [
        W._brotli_decode(e) for e in edges
    ]


def test_fuzz_flags_never_crashes():
    base = _compress(b"the quick brown fox jumps over the lazy dog. " * 30, 5)
    for j in range(0, len(base), 3):
        for mut in (
            base[:j],
            base[:j] + bytes([base[j] ^ 0x80]) + base[j + 1:],
        ):
            out = W._brotli_decode(mut)
            assert out is None or isinstance(out, bytes)
    # every proper prefix is a truncated stream
    for j in range(len(base)):
        assert W._brotli_decode(base[:j]) is None
    # an empty body is no brotli stream
    assert W._brotli_decode(b"") is None


def test_warc_br_content_encoding_full():
    """The WARC wire tier decodes COMPRESSED brotli metablocks and
    stored-mode framing alike; junk routes to ``body_decoded=false``."""
    body = (b"<html><body>" + b"<p>crawl text</p>" * 50
            + b"</body></html>")
    head = b"HTTP/1.1 200 OK\r\nContent-Encoding: br\r\n\r\n"
    for enc in (W.brotli_store(body), _compress(body, 0),
                _compress(body, 11)):
        assert W._decompress_body(enc, b"br") == body
        _h, got, ce, _ch, decoded = W.decode_http_body(head + enc)
        assert (got, ce, decoded) == (body, "br", True)
    for _sha, b64 in VECTORS[:2]:
        assert W._brotli_decode(base64.b64decode(b64)) is not None
    assert W._brotli_decode(b"\xff\xff not brotli \x00") is None
    assert W.decode_http_body(head)[4] is False  # empty br body


def test_metadata_mskiplen_edge_cases():
    """RFC 7932 §9.2 MSKIPLEN minimality: a 1-byte encoding of value
    0 (skip 1 byte) is VALID — the nonzero-most-significant-byte rule
    applies only when MSKIPBYTES > 1.  The three hand-built streams
    match the canonical decoder's verdicts."""
    # wbits=16; metadata block MSKIPBYTES=1 value 0 -> skip 1 byte
    # (0xAA); then ISLAST+ISLASTEMPTY.  Canonical: decodes to b"".
    assert W._brotli_decode(bytes([0x2C, 0x00, 0xAA, 0x03])) == b""
    # MSKIPBYTES=2 encoding value 5 (high byte zero) -> non-minimal.
    assert W._brotli_decode(bytes([0xCC, 0x02, 0x00, 0x00, 0x03])) is None
    # MNIBBLES=5 with MLEN-1=0xFFFF: most significant nibble zero ->
    # FORMAT_EXUBERANT_NIBBLE.
    assert W._brotli_decode(bytes([0xEA, 0xFF, 0x1F, 0x00])) is None
