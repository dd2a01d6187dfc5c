"""Property-based fuzz for the REAL media codecs (no Spark needed):
BMP and PNG encode→decode round-trips over random pixel arrays, shapes,
and PNG filter selections, plus never-raises on random garbage bytes —
the same adversarial posture as the parse-kernel fuzz suites."""

import numpy as np
from hypothesis import given, settings, strategies as st

from frontier.multimodal import (
    decode_bmp_pixels,
    decode_png_pixels,
    decode_wav_samples,
    encode_bmp,
    encode_png,
    parse_image_header,
)


@st.composite
def _pixel_arrays(draw):
    w = draw(st.integers(min_value=1, max_value=12))
    h = draw(st.integers(min_value=1, max_value=10))
    data = draw(
        st.binary(min_size=w * h * 3, max_size=w * h * 3)
    )
    return np.frombuffer(data, dtype=np.uint8).reshape(h, w, 3).copy()


@settings(max_examples=60, deadline=None)
@given(_pixel_arrays())
def test_bmp_roundtrip_fuzz(pixels):
    payload = encode_bmp(pixels)
    # header parser agrees with the encode dims
    meta = parse_image_header(payload)
    assert (meta["width"], meta["height"]) == (
        pixels.shape[1], pixels.shape[0],
    )
    back = decode_bmp_pixels(payload)
    assert (back == pixels).all()


@settings(max_examples=40, deadline=None)
@given(
    _pixel_arrays(),
    st.lists(st.integers(min_value=0, max_value=4), min_size=10, max_size=10),
)
def test_png_roundtrip_fuzz(pixels, filters):
    payload = encode_png(pixels, filter_for_row=lambda y: filters[y % 10])
    meta = parse_image_header(payload)
    assert (meta["width"], meta["height"]) == (
        pixels.shape[1], pixels.shape[0],
    )
    back = decode_png_pixels(payload)
    assert (back == pixels).all()


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=512))
def test_decoders_never_raise_on_garbage(blob):
    decode_bmp_pixels(blob)
    decode_png_pixels(blob)
    decode_wav_samples(blob)
    parse_image_header(blob)


@settings(max_examples=80, deadline=None)
@given(st.binary(max_size=256))
def test_decoders_never_raise_on_magic_prefixed_garbage(blob):
    """Garbage wearing a real magic number exercises the deep branches."""
    for prefix in (b"BM", b"\x89PNG\r\n\x1a\n", b"RIFF", b"RIFFxxxxWAVE"):
        decode_bmp_pixels(prefix + blob)
        decode_png_pixels(prefix + blob)
        decode_wav_samples(prefix + blob)
        parse_image_header(prefix + blob)


@st.composite
def _gif_frames(draw):
    w = draw(st.integers(min_value=1, max_value=14))
    h = draw(st.integers(min_value=1, max_value=9))
    n_colors = draw(st.integers(min_value=1, max_value=256))
    idx_raw = draw(st.binary(min_size=w * h, max_size=w * h))
    pal_raw = draw(st.binary(min_size=n_colors * 3, max_size=n_colors * 3))
    idx = (
        np.frombuffer(idx_raw, dtype=np.uint8).reshape(h, w) % n_colors
    ).astype(np.uint8)
    pal = np.frombuffer(pal_raw, dtype=np.uint8).reshape(n_colors, 3).copy()
    return idx, pal


@settings(max_examples=50, deadline=None)
@given(_gif_frames())
def test_gif_roundtrip_fuzz(frame):
    from frontier.multimodal import decode_gif_pixels, encode_gif

    idx, pal = frame
    payload = encode_gif(idx, pal)
    meta = parse_image_header(payload)
    assert (meta["width"], meta["height"]) == (idx.shape[1], idx.shape[0])
    back = decode_gif_pixels(payload)
    assert back is not None and (back == pal[idx]).all()


def test_gif_lzw_actually_compresses_and_survives_table_reset():
    """Repetitive input must shrink (the dictionary is real, not the
    literals-only trick) and a stream long enough to fill the 12-bit table
    must survive the mid-stream Clear/reset."""
    from frontier.multimodal import _lzw_decode_gif, _lzw_encode_gif

    rep = b"\x01\x02\x03\x04" * 1000
    enc = _lzw_encode_gif(rep, 8)
    assert len(enc) < len(rep) // 2
    assert _lzw_decode_gif(enc, 8) == rep

    rng = np.random.default_rng(9)
    long = bytes(rng.integers(0, 256, 30000, dtype=np.uint8))
    assert _lzw_decode_gif(_lzw_encode_gif(long, 8), 8) == long


def test_gif_lzw_width_boundary_runs_roundtrip():
    """Regression pin for the End-code width desync (commit 1075cdd): when
    the decoder's final dictionary append lands exactly on a 2^width
    boundary, the code width must NOT grow before reading the End code.
    Constant runs walk the append counter across every boundary; sweep run
    lengths 0..300 at min_code_size 2/4/8 (the 56-zero frame was the
    original failing input at min_code_size 2)."""
    from frontier.multimodal import _lzw_decode_gif, _lzw_encode_gif

    for min_code in (2, 4, 8):
        for n in range(0, 301):
            data = b"\x00" * n
            assert _lzw_decode_gif(_lzw_encode_gif(data, min_code), min_code) == data, (
                f"min_code_size={min_code} run={n}"
            )


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=300))
def test_gif_decoder_never_raises(blob):
    from frontier.multimodal import decode_gif_pixels

    decode_gif_pixels(blob)
    decode_gif_pixels(b"GIF89a" + blob)
    decode_gif_pixels(b"GIF87a\x08\x00\x06\x00\x80\x00\x00" + blob)


def test_jpeg_roundtrip_constant_blocks():
    """Random even-level constant-block grids decode bit-exactly through
    the REAL Huffman/IDCT path (DCT-exact by construction), across DC
    diffs of both signs and multi-block Huffman bitstreams."""
    from frontier.multimodal import decode_jpeg_pixels, encode_jpeg_gray_blocks

    rng = np.random.default_rng(21)
    for bx, by in ((1, 1), (4, 3), (7, 2), (2, 6)):
        blocks = (rng.integers(0, 128, size=(by, bx)) * 2).astype(np.int64)
        out = decode_jpeg_pixels(encode_jpeg_gray_blocks(blocks))
        assert out is not None and out.shape == (by * 8, bx * 8, 3)
        expanded = np.repeat(np.repeat(blocks, 8, 0), 8, 1)
        assert (out[:, :, 0] == expanded).all()
        assert (out[:, :, 1] == out[:, :, 0]).all()
        assert (out[:, :, 2] == out[:, :, 0]).all()


def test_jpeg_decoder_rejects_out_of_scope():
    from frontier.multimodal import build_image_payload, decode_jpeg_pixels

    # build_image_payload jpegs have no DQT/DHT/SOS: honest None
    assert decode_jpeg_pixels(build_image_payload("jpeg", 16, 16, b"x")) is None
    assert decode_jpeg_pixels(b"") is None
    assert decode_jpeg_pixels(b"\xff\xd8\xff\xd9") is None


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=400))
def test_jpeg_decoder_never_raises(blob):
    from frontier.multimodal import decode_jpeg_pixels

    decode_jpeg_pixels(blob)
    decode_jpeg_pixels(b"\xff\xd8" + blob)
    decode_jpeg_pixels(b"\xff\xd8\xff\xdb\x00\x43\x00" + bytes(64) + blob)


def test_jpeg_color_420_roundtrip_closed_form():
    """Color baseline JPEG: interleaved 4:2:0 MCUs, two quant tables, four
    Huffman tables, per-component DC predictors. Constant blocks are
    DCT-exact, so every 8x8 region must equal the closed-form
    floor(x+0.5) JFIF transform of its (Y, Cb, Cr) levels."""
    from frontier.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg_color_blocks,
        jpeg_color_rgb_from_levels,
    )

    rng = np.random.default_rng(21)
    for _ in range(20):
        mby, mbx = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        y = 2 * rng.integers(0, 128, (2 * mby, 2 * mbx))
        cb = 2 * rng.integers(0, 128, (mby, mbx))
        cr = 2 * rng.integers(0, 128, (mby, mbx))
        px = decode_jpeg_pixels(encode_jpeg_color_blocks(y, cb, cr))
        assert px is not None and px.shape == (16 * mby, 16 * mbx, 3)
        for by_ in range(2 * mby):
            for bx_ in range(2 * mbx):
                want = jpeg_color_rgb_from_levels(
                    int(y[by_, bx_]),
                    int(cb[by_ // 2, bx_ // 2]),
                    int(cr[by_ // 2, bx_ // 2]),
                )
                block = px[by_ * 8 : by_ * 8 + 8, bx_ * 8 : bx_ * 8 + 8]
                assert (block == np.array(want, dtype=np.uint8)).all()


def test_gif_interlace_roundtrip_all_heights():
    """Interlaced GIF decode: the four-pass row re-order must invert the
    encoder's pass-order transmission for every height (each height class
    hits a different pass-boundary split)."""
    from frontier.multimodal import decode_gif_pixels, encode_gif

    rng = np.random.default_rng(22)
    pal = rng.integers(0, 256, (64, 3)).astype(np.uint8)
    for h in list(range(1, 18)) + [32, 53]:
        w = int(rng.integers(1, 10))
        idx = rng.integers(0, 64, (h, w)).astype(np.uint8)
        px = decode_gif_pixels(encode_gif(idx, pal, interlace=True))
        assert px is not None and (px == pal[idx]).all(), h


def test_png_palette_roundtrip_all_filters():
    """Palette PNG (color type 3): PLTE indirection over bpp=1 scanline
    filters — a decoder hardcoding truecolor bpp=3 cannot pass Sub/
    Average/Paeth rows."""
    from frontier.multimodal import decode_png_pixels, encode_png_palette

    rng = np.random.default_rng(23)
    for _ in range(20):
        h, w = int(rng.integers(2, 10)), int(rng.integers(2, 10))
        npal = int(rng.integers(2, 257))
        idx = rng.integers(0, npal, (h, w)).astype(np.uint8)
        pal = rng.integers(0, 256, (npal, 3)).astype(np.uint8)
        px = decode_png_pixels(
            encode_png_palette(idx, pal, filter_for_row=lambda y: y % 5)
        )
        assert px is not None and (px == pal[idx]).all()


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=400))
def test_jpeg_color_decoder_never_raises(blob):
    from frontier.multimodal import decode_jpeg_pixels

    decode_jpeg_pixels(b"\xff\xd8" + blob)


def test_avi_mjpeg_container_roundtrip():
    """AVI writer -> frame walk recovers every frame payload byte-exactly
    in stream order (odd-sized JPEG payloads exercise RIFF even-padding),
    and the real sampler strides the stream, not the sampled list."""
    from frontier.multimodal import (
        encode_avi_mjpeg,
        encode_jpeg_gray_blocks,
        parse_avi_frames,
        sample_frames_real,
    )

    rng = np.random.default_rng(41)
    for nf in (1, 2, 5, 9):
        frames = [
            encode_jpeg_gray_blocks(2 * rng.integers(0, 128, (1, 2)))
            for _ in range(nf)
        ]
        avi = encode_avi_mjpeg(frames, 16, 8)
        assert parse_avi_frames(avi) == frames
        for step in (1, 2, 3):
            assert sample_frames_real(avi, step) == frames[::step]
    # non-AVI payloads keep the deterministic stub
    assert parse_avi_frames(b"RIFFxxxxWAVE") is None
    stub = sample_frames_real(b"plain text", 2)
    assert stub and all(b":frame:" in f for f in stub)


@settings(max_examples=60, deadline=None)
@given(st.binary(max_size=400))
def test_avi_walk_never_raises(blob):
    from frontier.multimodal import parse_avi_frames

    parse_avi_frames(blob)
    parse_avi_frames(b"RIFF\xff\xff\xff\xffAVI " + blob)
    parse_avi_frames(b"RIFF\x30\x00\x00\x00AVI LIST\x20\x00\x00\x00movi" + blob)


def test_png_gray_alpha_rgba_roundtrip():
    """PNG color types 0/4/6: grayscale replicates to RGB, alpha channels
    are unfiltered at the right bpp then dropped — a decoder with a wrong
    bpp cannot pass Sub/Average/Paeth rows on 2- or 4-channel scanlines."""
    from frontier.multimodal import decode_png_pixels, encode_png_any

    rng = np.random.default_rng(51)
    for _ in range(10):
        h, w = int(rng.integers(2, 9)), int(rng.integers(2, 9))
        filt = lambda y: y % 5  # noqa: E731
        gray = rng.integers(0, 256, (h, w)).astype(np.uint8)
        px = decode_png_pixels(encode_png_any(gray, 0, filt))
        assert px is not None and (px == np.repeat(gray[:, :, None], 3, 2)).all()
        ga = rng.integers(0, 256, (h, w, 2)).astype(np.uint8)
        px = decode_png_pixels(encode_png_any(ga, 4, filt))
        assert px is not None and (
            px == np.repeat(ga[:, :, :1], 3, 2)
        ).all()
        rgba = rng.integers(0, 256, (h, w, 4)).astype(np.uint8)
        px = decode_png_pixels(encode_png_any(rgba, 6, filt))
        assert px is not None and (px == rgba[:, :, :3]).all()
        rgb = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        px = decode_png_pixels(encode_png_any(rgb, 2, filt))
        assert px is not None and (px == rgb).all()


def test_jpeg_progressive_equals_baseline_decode():
    """Progressive SOF2 (8 successive-approximation scans) must decode to
    EXACTLY the same RGB as the baseline container of the same levels —
    spectral selection, EOBn band runs, AC/DC refinement bits, and scan
    accumulation all in play."""
    from frontier.multimodal import (
        decode_jpeg_pixels,
        encode_jpeg_color_blocks,
        encode_jpeg_progressive_color_blocks,
    )

    rng = np.random.default_rng(71)
    for _ in range(15):
        mby, mbx = int(rng.integers(1, 4)), int(rng.integers(1, 4))
        y = 2 * rng.integers(0, 128, (2 * mby, 2 * mbx))
        cb = 2 * rng.integers(0, 128, (mby, mbx))
        cr = 2 * rng.integers(0, 128, (mby, mbx))
        base = decode_jpeg_pixels(encode_jpeg_color_blocks(y, cb, cr))
        prog = decode_jpeg_pixels(
            encode_jpeg_progressive_color_blocks(y, cb, cr)
        )
        assert prog is not None and (base == prog).all()


@settings(max_examples=40, deadline=None)
@given(st.binary(max_size=400))
def test_jpeg_progressive_decoder_never_raises(blob):
    from frontier.multimodal import decode_jpeg_pixels

    # SOF2 header followed by garbage scans
    decode_jpeg_pixels(
        b"\xff\xd8\xff\xc2\x00\x0b\x08\x00\x10\x00\x10\x01\x11\x00" + blob
    )


def test_png_adam7_interlace_roundtrip():
    """Adam7: seven separately-filtered pass sub-images scattered onto
    strided grids — every (h, w) class splits the passes differently, and
    tiny images leave some passes empty."""
    from frontier.multimodal import decode_png_pixels, encode_png_any

    rng = np.random.default_rng(91)
    for h, w in [(1, 1), (1, 9), (9, 1), (2, 3), (5, 5), (8, 8), (13, 17)]:
        px = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        enc = encode_png_any(
            px, 2, filter_for_row=lambda y: y % 5, interlace=True
        )
        back = decode_png_pixels(enc)
        assert back is not None and (back == px).all(), (h, w)


def test_wav_24bit_and_float32_decode():
    """24-bit packed PCM (manual sign extension) and IEEE-float WAV
    (format 3) decode to the exact written samples."""
    import struct

    from frontier.multimodal import decode_wav_samples

    def wav(afmt, bits, data):
        frame = bits // 8
        fmt = struct.pack("<HHIIHH", afmt, 1, 8000, 8000 * frame, frame, bits)
        body = (
            b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data
            + (b"\x00" if len(data) & 1 else b"")
        )
        return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body

    vals = [0, 1, -1, 8_388_607, -8_388_608, 123_456, -654_321]
    data = b"".join(
        (v & 0xFFFFFF).to_bytes(3, "little") for v in vals
    )
    out = decode_wav_samples(wav(1, 24, data))
    assert out is not None and list(out[0]) == vals

    fvals = np.array([0.0, 1.5, -2.25, 3e7, -1e-4], dtype="<f4")
    out = decode_wav_samples(wav(3, 32, fvals.tobytes()))
    assert out is not None and (out[0] == fvals).all()
    assert out[1]["audio_format"] == 3

    # unsupported combos stay honest None
    assert decode_wav_samples(wav(3, 16, b"\x00\x00")) is None
    assert decode_wav_samples(wav(1, 32, b"\x00" * 4)) is None


def test_resize_real_covers_gif_and_jpeg():
    """resize_image_real reaches every real decoder: GIF and JPEG sources
    resize for real (re-encoded as truecolor PNG — pixel-exact, no
    re-quantization), with the stub only for undecodable payloads."""
    from frontier.multimodal import (
        decode_png_pixels,
        encode_gif,
        encode_jpeg_gray_blocks,
        resize_image_real,
        resize_nearest,
    )

    rng = np.random.default_rng(101)
    idx = rng.integers(0, 16, (6, 8)).astype(np.uint8)
    pal = rng.integers(0, 256, (16, 3)).astype(np.uint8)
    out = decode_png_pixels(resize_image_real(encode_gif(idx, pal), 4, 3))
    assert out is not None and (out == resize_nearest(pal[idx], 4, 3)).all()

    blocks = 2 * rng.integers(0, 128, (2, 2))
    jpeg = encode_jpeg_gray_blocks(blocks)
    want = resize_nearest(
        np.repeat(np.repeat(blocks, 8, 0), 8, 1)[:, :, None].repeat(3, 2)
        .astype(np.uint8), 5, 7,
    )
    out = decode_png_pixels(resize_image_real(jpeg, 5, 7))
    assert out is not None and (out == want).all()

    assert b":5x7" in resize_image_real(b"not an image", 5, 7)


def test_jpeg_restart_intervals_roundtrip():
    """DRI + RSTn: each restart starts a byte-aligned entropy segment
    with DC predictors reset; decode must match the no-restart container
    for every interval (ri=1 maximizes segment count and the cycling
    RST0..7 wraparound)."""
    from frontier.multimodal import decode_jpeg_pixels, encode_jpeg_color_blocks

    rng = np.random.default_rng(121)
    for _ in range(10):
        mby, mbx = int(rng.integers(1, 5)), int(rng.integers(1, 5))
        y = 2 * rng.integers(0, 128, (2 * mby, 2 * mbx))
        cb = 2 * rng.integers(0, 128, (mby, mbx))
        cr = 2 * rng.integers(0, 128, (mby, mbx))
        base = decode_jpeg_pixels(encode_jpeg_color_blocks(y, cb, cr))
        for ri in (1, 2, 5):
            got = decode_jpeg_pixels(
                encode_jpeg_color_blocks(y, cb, cr, restart_interval=ri)
            )
            assert got is not None and (got == base).all(), ri


def test_png_16bit_decode_high_byte():
    """16-bit PNG: scanline filters run at the DOUBLED byte pitch (Sub's
    left neighbor is 2*channels bytes back), then samples reduce to their
    high byte. A decoder filtering at the 8-bit pitch corrupts every
    Sub/Paeth row."""
    import struct
    import zlib

    from frontier.multimodal import _paeth, decode_png_pixels

    rng = np.random.default_rng(131)
    for ctype, nch in ((0, 1), (2, 3), (6, 4)):
        h, w = 5, 6
        raw16 = rng.integers(0, 65536, (h, w * nch)).astype(">u2")
        rows = raw16.view(np.uint8).reshape(h, w * nch * 2)
        bpp = nch * 2
        lines = bytearray()
        for y in range(h):
            ftype = (y % 5)
            cur = rows[y].astype(np.int64)
            prev = rows[y - 1].astype(np.int64) if y else np.zeros(
                len(cur), np.int64
            )
            enc = bytearray(len(cur))
            for i in range(len(cur)):
                left = int(cur[i - bpp]) if i >= bpp else 0
                above = int(prev[i])
                upleft = int(prev[i - bpp]) if i >= bpp else 0
                pred = [0, left, above, (left + above) >> 1,
                        _paeth(left, above, upleft)][ftype]
                enc[i] = (int(cur[i]) - pred) & 0xFF
            lines.append(ftype)
            lines += enc

        def chunk(tag, data):
            return (
                struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
            )

        payload = (
            b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 16, ctype, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(bytes(lines)))
            + chunk(b"IEND", b"")
        )
        got = decode_png_pixels(payload)
        hi = (raw16 >> 8).astype(np.uint8).reshape(h, w, nch)
        if ctype == 0:
            want = np.repeat(hi, 3, axis=2)
        elif ctype == 2:
            want = hi
        else:
            want = hi[:, :, :3]
        assert got is not None and (got == want).all(), ctype


def test_gif_animation_subrect_transparency_disposal():
    """Animated-GIF compositing semantics, hand-built: a full frame with
    disposal 2 (restore background), then a sub-rect frame at (1,1) whose
    transparent pixels leave the restored background showing through."""
    import struct

    from frontier.multimodal import _lzw_encode_gif, parse_gif_frames

    pal = np.zeros((8, 3), dtype=np.uint8)
    for i in range(8):
        pal[i] = (10 * i, 20 * i, 30 * i)

    def img(ix, iy, idx, min_code=3):
        arr = np.asarray(idx, dtype=np.uint8)
        h, w = arr.shape
        lzw = _lzw_encode_gif(arr.tobytes(), min_code)
        blocks = bytearray()
        for i in range(0, len(lzw), 255):
            c = lzw[i : i + 255]
            blocks.append(len(c))
            blocks += c
        blocks.append(0)
        return (
            b"\x2c" + struct.pack("<HHHH", ix, iy, w, h) + b"\x00"
            + bytes([min_code]) + bytes(blocks)
        )

    def gce(disposal, transparent=None):
        flags = (disposal << 2) | (1 if transparent is not None else 0)
        return b"\x21\xf9\x04" + bytes(
            [flags, 0, 0, transparent if transparent is not None else 0]
        ) + b"\x00"

    header = (
        b"GIF89a" + struct.pack("<HH", 4, 4)
        + bytes([0x80 | 2, 0, 0])  # GCT of 8, bg index 0
        + pal.tobytes()
    )
    full = np.full((4, 4), 1, dtype=np.uint8)
    sub = np.array([[2, 5], [5, 3]], dtype=np.uint8)  # 5 = transparent
    payload = (
        header
        + gce(2) + img(0, 0, full)
        + gce(1, transparent=5) + img(1, 1, sub)
        + b"\x3b"
    )
    frames = parse_gif_frames(payload)
    assert frames is not None and len(frames) == 2
    assert (frames[0] == pal[1]).all()
    want = np.tile(pal[0], (4, 4, 1))
    want[1, 1] = pal[2]
    want[2, 2] = pal[3]
    assert (frames[1] == want).all()


@settings(max_examples=50, deadline=None)
@given(st.binary(max_size=300))
def test_gif_animation_walk_never_raises(blob):
    from frontier.multimodal import parse_gif_frames

    parse_gif_frames(blob)
    parse_gif_frames(b"GIF89a\x04\x00\x04\x00\x00\x00\x00" + blob)


def test_ogg_vorbis_metadata_roundtrip_and_crc():
    """Ogg page walk: CRC-correct containers round-trip their stream
    parameters; a single flipped byte anywhere in a page fails the
    0x04c11db7 page CRC and the whole payload is rejected."""
    from frontier.multimodal import build_ogg_vorbis_payload, parse_ogg_metadata

    for ch, rate, ns, npages in ((1, 8000, 1234, 2), (2, 44100, 49999, 4)):
        payload = build_ogg_vorbis_payload(ch, rate, ns, npages)
        meta = parse_ogg_metadata(payload)
        assert meta is not None
        assert (meta["channels"], meta["sample_rate_hz"]) == (ch, rate)
        assert meta["n_samples"] == ns and meta["n_pages"] == npages
        assert meta["duration_ms"] == ns * 1000 // rate
        corrupted = bytearray(payload)
        corrupted[35] ^= 0x01
        assert parse_ogg_metadata(bytes(corrupted)) is None


@settings(max_examples=50, deadline=None)
@given(st.binary(max_size=300))
def test_ogg_walk_never_raises(blob):
    from frontier.multimodal import parse_ogg_metadata

    parse_ogg_metadata(blob)
    parse_ogg_metadata(b"OggS\x00\x02" + blob)


def test_ogg_trailing_junk_rejected():
    """Round-5 strict framing: every byte must belong to a CRC-valid
    page — trailing junk after valid pages rejects the stream, whether
    it is a full bogus capture pattern or a fragment shorter than a
    page header."""
    from frontier.multimodal import build_ogg_vorbis_payload, parse_ogg_metadata

    payload = build_ogg_vorbis_payload(1, 8000, 1234, 2)
    assert parse_ogg_metadata(payload) is not None
    assert parse_ogg_metadata(payload + b"junk after the last page") is None
    assert parse_ogg_metadata(payload + b"\x00") is None  # < header size
    assert parse_ogg_metadata(payload + b"OggS") is None  # truncated header


def test_tiff_misframed_strips_rejected():
    """Strip framing is checked strip by strip, not only in total: a file
    whose strips hold exactly h*w*spp bytes but disagree with RowsPerStrip
    (wrong strip count, or rows shifted between strips) decodes to None."""
    import struct

    from frontier.multimodal import decode_tiff_pixels, encode_tiff

    px = (np.arange(4 * 3 * 3) % 256).astype(np.uint8).reshape(4, 3, 3)
    payload = encode_tiff(px, rows_per_strip=2)  # 2 strips of 2 rows
    assert np.array_equal(decode_tiff_pixels(payload), px)

    def entry(tag):  # little-endian IFD at offset 8
        (n,) = struct.unpack_from("<H", payload, 8)
        for k in range(n):
            pos = 10 + 12 * k
            if struct.unpack_from("<H", payload, pos)[0] == tag:
                return pos
        raise KeyError(tag)

    # RowsPerStrip 1 calls for 4 strips; the file holds 2
    one_row = bytearray(payload)
    struct.pack_into("<H", one_row, entry(278) + 8, 1)
    assert decode_tiff_pixels(bytes(one_row)) is None

    # right strip count, but strips of 1 and 3 rows instead of 2 and 2
    row = 3 * 3
    uneven = bytearray(payload)
    (offs_at,) = struct.unpack_from("<I", payload, entry(273) + 8)
    (counts_at,) = struct.unpack_from("<I", payload, entry(279) + 8)
    (first,) = struct.unpack_from("<I", payload, offs_at)
    struct.pack_into("<2I", uneven, offs_at, first, first + row)
    struct.pack_into("<2I", uneven, counts_at, row, 3 * row)
    assert decode_tiff_pixels(bytes(uneven)) is None
