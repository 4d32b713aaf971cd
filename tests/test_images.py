"""Image codec + validation plumbing: PNG round-trips exactly, the lossy stub
stays within its quantization bound (>40 dB), phash is stable, and the J8
validation join (BASELINE.json per-row invariant) passes on the fixture."""

import hashlib
import struct

import numpy as np
import pytest

from ghcrawler_spark import fixtures
from ghcrawler_spark.functions.images import (
    PSNR_INF,
    decode_image,
    fake_jpeg_decode,
    fake_jpeg_encode,
    phash64,
    png_decode,
    png_encode,
    psnr,
    resize_thumbnail_udf,
    validate_against_reference,
)


def _pixels(seed=7, h=32, w=48):
    rng = np.random.RandomState(seed)
    return rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)


def test_png_roundtrip_exact():
    px = _pixels()
    assert np.array_equal(png_decode(png_encode(px)), px)


def test_png_deterministic():
    px = _pixels()
    assert png_encode(px) == png_encode(px.copy())


def test_fake_jpeg_psnr_bound():
    px = _pixels()
    dec = fake_jpeg_decode(fake_jpeg_encode(px))
    val = psnr(px, dec)
    assert 40.0 <= val < PSNR_INF


def test_psnr_identical_is_inf():
    px = _pixels()
    assert psnr(px, px) == PSNR_INF


def test_decode_unknown_format_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"whatever", "webp")
    with pytest.raises(NotImplementedError):
        fake_jpeg_decode(b"\xff\xd8not-our-stub-bytes")


def test_phash_stable_and_robust():
    px = _pixels()
    h1 = phash64(px)
    assert h1 == phash64(px.copy())
    # quantization (the lossy stub) must not move the average-hash much
    h2 = phash64(fake_jpeg_decode(fake_jpeg_encode(px)))
    assert bin(h1 ^ h2).count("1") <= 6


def test_validation_join_on_fixture(spark):
    from pyspark.sql import functions as F

    fx = fixtures.generate(seed=11, n_hosts=3)
    corpus, _, _ = fixtures.to_spark(spark, fx)
    fetched = corpus.select("image_id", "bytes", "fmt", "caption")
    # the reference frame is the lossless PNG truth
    ref = corpus.select(
        "image_id",
        F.col("ref_bytes").alias("bytes"),
        F.lit("png").alias("fmt"),
        "caption",
    )
    out = validate_against_reference(fetched, ref)
    rows = out.select("image_id", "fmt", "psnr_db", "caption_ok", "valid").collect()
    assert rows and all(r["valid"] for r in rows)
    jpegs = [r for r in rows if r["fmt"] == "jpeg"]
    assert jpegs, "fixture should include lossy images"
    assert all(40.0 <= r["psnr_db"] < PSNR_INF for r in jpegs)


def test_resize_thumbnail_udf(spark):
    fx = fixtures.generate(seed=5, n_hosts=2)
    corpus, _, _ = fixtures.to_spark(spark, fx)
    thumb = corpus.limit(4).select(
        "image_id", resize_thumbnail_udf(8)("bytes", "fmt").alias("thumb")
    )
    for r in thumb.collect():
        px = png_decode(bytes(r["thumb"]))
        assert px.shape == (8, 8, 3)


def test_real_jpeg_roundtrip_and_guards():
    """Round-4: the pure-numpy baseline JFIF codec is REAL — round-trips
    arbitrary sizes above the 40 dB gate at quality 100, rejects
    non-baseline flavors with precise errors, and decode_image routes real
    JFIF bytes to it (legacy stub bytes still decode)."""
    import numpy as np
    import pytest as _pytest

    from ghcrawler_spark.functions.images import decode_image, psnr
    from ghcrawler_spark.functions.jpeg import jpeg_decode, jpeg_encode

    rng = np.random.RandomState(3)
    for shape in [(16, 16, 3), (24, 40, 3), (33, 57, 3)]:
        px = rng.randint(0, 256, shape).astype(np.uint8)
        enc = jpeg_encode(px, quality=100)
        assert enc[:2] == b"\xff\xd8" and enc[-2:] == b"\xff\xd9"
        dec = jpeg_decode(enc)
        assert dec.shape == px.shape
        assert psnr(dec, px) >= 40.0
        # decode_image routes by the SOI signature
        assert (decode_image(enc, "jpeg") == dec).all()
    # quality scaling is monotone in error
    px = rng.randint(0, 256, (32, 32, 3)).astype(np.uint8)
    p75 = psnr(jpeg_decode(jpeg_encode(px, 75)), px)
    p95 = psnr(jpeg_decode(jpeg_encode(px, 95)), px)
    assert p75 < p95
    # guards: truncation and non-baseline markers fail loudly
    enc = jpeg_encode(px, 90)
    with _pytest.raises(ValueError):
        jpeg_decode(enc[: len(enc) // 2])
    prog = bytearray(enc)
    sof = prog.find(b"\xff\xc0")
    prog[sof + 1] = 0xC2  # rewrite SOF0 → SOF2 (progressive)
    with _pytest.raises(ValueError):
        jpeg_decode(bytes(prog))
    with _pytest.raises(ValueError):
        jpeg_decode(b"not a jpeg at all")


def test_curation_gates_each_gate_fires_independently(spark):
    """v3 lane: every gate trips on exactly the row crafted to violate it,
    and only the clean row survives the conjunction."""
    from pyspark.sql import functions as F

    from ghcrawler_spark.functions.images import curation_gates

    good_caption = "a photograph of a small red boat on a calm lake"
    rows = [
        # (id, w, h, fmt, caption, expect: which gate fails — None = kept)
        (0, 800, 600, "png", good_caption, None),
        (1, 100, 250, "png", good_caption, "res_ok"),       # w below floor
        (2, 400, 150, "jpeg", good_caption, "res_ok"),      # h below floor
        (3, 2000, 400, "png", good_caption, "aspect_ok"),   # 5:1 panorama
        (4, 800, 600, "gif", good_caption, "fmt_ok"),       # disallowed fmt
        (5, 800, 600, "png", "tiny caption here", "caption_gate_ok"),  # <5 tok
        (6, 800, 600, "png", "a b c d e", "caption_gate_ok"),  # <20 chars
        (7, 800, 600, "jpeg", "x " * 2000, "caption_gate_ok"),  # >2048 chars
        # boundary rows: exactly at the limits must PASS
        (8, 200, 200, "png", good_caption, None),           # floor exactly
        (9, 600, 200, "jpeg", good_caption, None),          # aspect exactly 3
    ]
    df = spark.createDataFrame(
        [(r[0], r[1], r[2], r[3], r[4]) for r in rows],
        "image_id long, w int, h int, fmt string, caption string",
    )
    gates = curation_gates(
        F.col("w"), F.col("h"), F.col("fmt"), F.col("caption")
    )
    out = {
        r["image_id"]: r
        for r in df.select(
            "image_id", *[v.alias(k) for k, v in gates.items()]
        ).collect()
    }
    for rid, _w, _h, _fmt, _cap, failing in rows:
        got = out[rid]
        assert got["kept"] == (failing is None), f"row {rid}"
        for gate in ("res_ok", "aspect_ok", "fmt_ok", "caption_gate_ok"):
            assert got[gate] == (gate != failing), f"row {rid} gate {gate}"
    assert out[0]["caption_tokens"] == len(good_caption.split())


# --- baseline JPEG decoder: pinned output and guards ------------------------
#
# sha256 over (shape, RGB bytes) of every decoded image, in order. Pinned from
# the bit-serial reference decoder, so any decoder rewrite must stay bit-exact.
FIXTURE_JPEG_SHA256 = (
    "4cc86ce9834a5aa36e5ff9c889921840ce35a66be8493a86b524029ba571d956"
)
MATRIX_JPEG_SHA256 = (
    "ec2ed52cda23389d65603926aa566ea4abc77b923249a4e52701d2ec895e2f8b"
)


def fixture_jpegs() -> list[bytes]:
    """The JPEG payloads of the seed-7 fixture corpus (the image benchmark's)."""
    fx = fixtures.generate(seed=7, n_hosts=3)
    return [bytes(b) for b, f in zip(fx.corpus["bytes"], fx.corpus["fmt"]) if f == "jpeg"]


def matrix_jpegs() -> list[bytes]:
    """Noise and smooth images at sizes off the 8-pixel grid, qualities 1-100."""
    from ghcrawler_spark.functions.jpeg import jpeg_encode

    rng = np.random.RandomState(5)
    out = []
    for h, w in [(1, 1), (7, 9), (17, 33), (9, 200), (50, 21)]:
        yy, xx = np.mgrid[0:h, 0:w]
        smooth = np.stack(
            [xx * 255 // max(w - 1, 1), yy * 255 // max(h - 1, 1),
             (xx + yy) * 127 // max(h + w - 2, 1)],
            axis=-1,
        ).astype(np.uint8)
        noise = rng.randint(0, 256, (h, w, 3)).astype(np.uint8)
        for q in (1, 10, 50, 75, 95, 100):
            out.append(jpeg_encode(noise, q))
            out.append(jpeg_encode(smooth, q))
    return out


def decode_digest(blobs: list[bytes]) -> str:
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    d = hashlib.sha256()
    for b in blobs:
        px = jpeg_decode(b)
        d.update(np.asarray(px.shape, dtype=np.int64).tobytes())
        d.update(px.tobytes())
    return d.hexdigest()


def test_jpeg_decode_pinned_fixture_corpus():
    blobs = fixture_jpegs()
    assert len(blobs) == 4
    assert decode_digest(blobs) == FIXTURE_JPEG_SHA256


def test_jpeg_decode_pinned_size_quality_matrix():
    assert decode_digest(matrix_jpegs()) == MATRIX_JPEG_SHA256


def _segments(enc: bytes) -> tuple[list[tuple[int, bytes]], bytes]:
    """Split a JFIF stream into its marker segments up to SOS and the
    entropy-coded scan (without EOI)."""
    pos, segs = 2, []
    while True:
        marker = enc[pos + 1]
        (length,) = struct.unpack(">H", enc[pos + 2 : pos + 4])
        segs.append((marker, enc[pos + 4 : pos + 2 + length]))
        pos += 2 + length
        if marker == 0xDA:
            return segs, enc[pos:-2]


def _assemble(segs: list[tuple[int, bytes]], scan: bytes) -> bytes:
    out = bytearray(b"\xff\xd8")
    for marker, payload in segs:
        out += struct.pack(">BBH", 0xFF, marker, len(payload) + 2) + payload
    return bytes(out + scan + b"\xff\xd9")


def _patched(enc: bytes, marker: int, fn) -> bytes:
    segs, scan = _segments(enc)
    return _assemble([(m, fn(p) if m == marker else p) for m, p in segs], scan)


def _flat_scan(n_mcus: int) -> bytes:
    """Scan of n all-zero MCUs (DC size 0 + EOB per block): 14 bits each, so
    four MCUs end byte-aligned with no padding."""
    from ghcrawler_spark.functions import jpeg as J

    dc = [J._huff_codes(J.DC_LUM_BITS, J.DC_LUM_VALS)[0],
          J._huff_codes(J.DC_CHR_BITS, J.DC_CHR_VALS)[0]]
    eob = [J._huff_codes(J.AC_LUM_BITS, J.AC_LUM_VALS)[0x00],
           J._huff_codes(J.AC_CHR_BITS, J.AC_CHR_VALS)[0x00]]
    bw = J._BitWriter()
    for _ in range(n_mcus):
        for t in (0, 1, 1):
            bw.write(*dc[t])
            bw.write(*eob[t])
    bw.flush()
    return bytes(bw.out)


def _gray_jpeg(w: int, scan: bytes) -> bytes:
    from ghcrawler_spark.functions.jpeg import jpeg_encode

    segs, _ = _segments(jpeg_encode(np.zeros((8, w, 3), dtype=np.uint8), 50))
    return _assemble(segs, scan)


def _jpeg_guard_sample() -> bytes:
    from ghcrawler_spark.functions.jpeg import jpeg_encode

    return jpeg_encode(_pixels(seed=1, h=8, w=16), 50)


def test_jpeg_crafted_flat_scan_decodes():
    """Positive control for the crafted-scan guards below."""
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    scan = _flat_scan(4)
    assert len(scan) == 7
    assert (jpeg_decode(_gray_jpeg(32, scan)) == 128).all()


def test_jpeg_truncated_mid_code_raises():
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    segs, scan = _segments(_jpeg_guard_sample())
    for cut in range(len(scan)):
        with pytest.raises(ValueError, match="truncated"):
            jpeg_decode(_assemble(segs, scan[:cut]))


def test_jpeg_truncated_at_block_boundary_raises():
    """Four whole MCUs, byte-aligned, where the frame needs five."""
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    with pytest.raises(ValueError, match="truncated"):
        jpeg_decode(_gray_jpeg(40, _flat_scan(4)))


def test_jpeg_marker_inside_scan_raises():
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    segs, scan = _segments(_jpeg_guard_sample())
    mid = len(scan) // 2
    with pytest.raises(ValueError, match="marker"):
        jpeg_decode(_assemble(segs, scan[:mid] + b"\xff\xd0" + scan[mid:]))


def test_jpeg_invalid_huffman_code_raises():
    """Sixteen 1-bits are no code of the Annex-K luminance DC table."""
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    with pytest.raises(ValueError, match="invalid Huffman code"):
        jpeg_decode(_gray_jpeg(8, b"\xff\x00" * 4))


@pytest.mark.parametrize("rs", [0x31, 0xF1])  # short code / code + bits > 16
def test_jpeg_ac_index_overflow_raises(rs):
    from ghcrawler_spark.functions import jpeg as J

    bw = J._BitWriter()
    bw.write(*J._huff_codes(J.DC_LUM_BITS, J.DC_LUM_VALS)[0])
    code, length = J._huff_codes(J.AC_LUM_BITS, J.AC_LUM_VALS)[rs]
    for _ in range(16):
        bw.write(code, length)
        bw.write(1, 1)
    bw.flush()
    with pytest.raises(ValueError, match="AC index overflow"):
        J.jpeg_decode(_gray_jpeg(8, bytes(bw.out)))


@pytest.mark.parametrize("marker,reason", [(0xC4, "Huffman"), (0xDB, "quant")])
def test_jpeg_missing_table_raises(marker, reason):
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    segs, scan = _segments(_jpeg_guard_sample())
    with pytest.raises(ValueError, match=f"missing {reason}"):
        jpeg_decode(_assemble([(m, p) for m, p in segs if m != marker], scan))


def test_jpeg_restart_interval_raises():
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    segs, scan = _segments(_jpeg_guard_sample())
    segs.insert(len(segs) - 1, (0xDD, b"\x00\x01"))
    with pytest.raises(ValueError, match="restart"):
        jpeg_decode(_assemble(segs, scan))


def test_jpeg_chroma_subsampling_raises():
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    enc = _patched(_jpeg_guard_sample(), 0xC0, lambda p: p[:7] + b"\x22" + p[8:])
    with pytest.raises(ValueError, match="subsampling"):
        jpeg_decode(enc)


def test_jpeg_16bit_quant_table_raises():
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    enc = _patched(_jpeg_guard_sample(), 0xDB, lambda p: bytes([0x10 | p[0]]) + p[1:])
    with pytest.raises(ValueError, match="16-bit"):
        jpeg_decode(enc)


def test_jpeg_partial_scan_raises():
    """One scan must carry every frame component (no progressive-style
    component-by-component scans)."""
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    enc = _patched(_jpeg_guard_sample(), 0xDA, lambda p: b"\x01" + p[1:3] + p[7:])
    with pytest.raises(ValueError, match="interleaved scan"):
        jpeg_decode(enc)


def test_jpeg_dc_value_out_of_range_raises():
    """A DC magnitude category above 16 cannot come from an 8-bit scan."""
    from ghcrawler_spark.functions.jpeg import jpeg_decode

    def dc_lum_17(p: bytes) -> bytes:
        # first table of the first DHT is the luminance DC one: last value → 17
        return p[:28] + b"\x11" + p[29:] if p[0] == 0x00 else p

    enc = _patched(_jpeg_guard_sample(), 0xC4, dc_lum_17)
    with pytest.raises(ValueError, match="DC Huffman value"):
        jpeg_decode(enc)
