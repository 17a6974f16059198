"""Stdlib image codecs (sources/codecs.py): PNG (all five row
filters), BMP, GIF, ICO, netpbm/XBM, RAS/SGI/TIFF and EXR — round-trips,
real-encoder fixtures and adversarial streams. No Spark needed; these
are pure bytes↔array kernels."""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pytest

from open_source_search_engine_spark.sources import codecs as C


def test_png_round_trip_shapes():
    rng = np.random.RandomState(0)
    for shape in [(13, 17, 3), (8, 8, 4), (5, 9, 1), (6, 7, 2), (1, 1, 3)]:
        a = rng.randint(0, 256, size=shape).astype(np.uint8)
        b = C.decode_png(C.encode_png(a))
        assert b.shape == a.shape and (a == b).all(), shape


def test_png_gray_2d_input():
    a = np.arange(30, dtype=np.uint8).reshape(5, 6)
    b = C.decode_png(C.encode_png(a))
    assert b.shape == (5, 6, 1) and (b[:, :, 0] == a).all()


def test_png_unfilters_all_filter_types():
    """Hand-filter rows with types 1-4 (Sub/Up/Average/Paeth) and
    check the decoder reconstructs the original — the encoder only
    emits type 0, so this is the only path that exercises them."""
    rng = np.random.RandomState(1)
    h, w, ch = 4, 5, 3
    a = rng.randint(0, 256, size=(h, w, ch)).astype(np.uint8)
    flat = a.reshape(h, w * ch).astype(np.int32)
    rows, prev = [], np.zeros(w * ch, np.int32)
    for y, ft in enumerate([1, 2, 3, 4]):
        cur = flat[y]
        filt = np.zeros(w * ch, np.int32)
        for x in range(w * ch):
            left = cur[x - ch] if x >= ch else 0
            up = prev[x]
            ul = prev[x - ch] if x >= ch else 0
            if ft == 1:
                pred = left
            elif ft == 2:
                pred = up
            elif ft == 3:
                pred = (left + up) >> 1
            else:
                p = left + up - ul
                pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                pred = (
                    left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                )
            filt[x] = (cur[x] - pred) & 0xFF
        rows.append(bytes([ft]) + bytes(filt.astype(np.uint8)))
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    png = (
        C.PNG_SIG
        + C._chunk(b"IHDR", ihdr)
        + C._chunk(b"IDAT", zlib.compress(b"".join(rows)))
        + C._chunk(b"IEND", b"")
    )
    assert (C.decode_png(png) == a).all()


def test_bmp_round_trip_with_padding():
    rng = np.random.RandomState(2)
    # width 7 → 21-byte rows padded to 24: exercises the stride logic
    a = rng.randint(0, 256, size=(10, 7, 3)).astype(np.uint8)
    assert (C.decode_bmp(C.encode_bmp(a)) == a).all()


def test_resize_nearest_exact_mapping():
    a = np.arange(4, dtype=np.uint8).reshape(2, 2)[:, :, None]
    r = C.resize_nearest(a, 4, 4)
    assert r.shape == (4, 4, 1)
    assert (r[:, :, 0] == [[0, 0, 1, 1], [0, 0, 1, 1],
                           [2, 2, 3, 3], [2, 2, 3, 3]]).all()
    # downscale picks exact source pixels
    d = C.resize_nearest(r, 2, 2)
    assert (d == a).all()


def test_sniff():
    a = np.zeros((2, 2, 3), np.uint8)
    assert C.sniff(C.encode_png(a)) == "png"
    assert C.sniff(C.encode_bmp(a)) == "bmp"
    assert C.sniff(b"\xff\xd8\xff jpeg") == "jpeg"
    assert C.sniff(b"GIF89a" + b"\x00" * 8) == "gif"
    assert C.sniff(b"\x00\x01\x02") == "unknown"


def test_decode_image_dispatch():
    yy, xx = np.mgrid[0:8, 0:8]
    img = np.stack([yy * 32, xx * 32, (yy + xx) * 16],
                   axis=-1).astype(np.uint8)
    assert (C.decode_image(C.encode_png(img)) == img).all()
    assert (C.decode_image(C.encode_bmp(img)) == img).all()
    with pytest.raises(ValueError):
        C.decode_image(b"\x00\x01\x02")
    # JPEG is sniffed but has no decoder: SOI + an 8x8 SOF0 + EOI
    # raises the same not-decodable ValueError as any other format
    jpg = (b"\xff\xd8\xff\xc0\x00\x0b\x08\x00\x08\x00\x08\x01\x01\x11"
           b"\x00\xff\xd9")
    assert C.sniff(jpg) == "jpeg"
    with pytest.raises(ValueError, match="not a decodable image"):
        C.decode_image(jpg)
    with pytest.raises(ValueError, match="not an image"):
        C.image_meta(jpg)


def _rng(seed=7):
    import numpy as _np

    return _np.random.default_rng(seed)


def test_png_palette_plte_and_trns():
    """Color type 3: decode expands PLTE to RGB; a tRNS chunk adds an
    alpha channel (entries past the tRNS length default to 255)."""
    import numpy as _np

    idx = _rng().integers(0, 5, size=(9, 7), dtype=_np.uint8)
    pal = _rng(1).integers(0, 256, size=(5, 3), dtype=_np.uint8)
    enc = C.encode_png_ex(idx, color=3, palette=pal)
    assert C.sniff(enc) == "png"
    out = C.decode_png(enc)
    assert out.shape == (9, 7, 3)
    assert (out == pal[idx]).all()

    trns = _np.array([0, 128], dtype=_np.uint8)  # entries 2-4 → 255
    enc_a = C.encode_png_ex(idx, color=3, palette=pal, trns=trns)
    out_a = C.decode_png(enc_a)
    assert out_a.shape == (9, 7, 4)
    assert (out_a[:, :, :3] == pal[idx]).all()
    full = _np.array([0, 128, 255, 255, 255], dtype=_np.uint8)
    assert (out_a[:, :, 3] == full[idx]).all()


def test_png_adam7_interlace_matches_plain():
    """Adam7 deinterlace reproduces the plain decode exactly, including
    odd sizes where late passes dominate and tiny sizes where early
    passes are empty."""
    import numpy as _np

    for h, w in ((16, 16), (9, 7), (3, 2), (1, 1), (2, 9)):
        arr = _rng(h * 100 + w).integers(
            0, 256, size=(h, w, 3), dtype=_np.uint8
        )
        plain = C.decode_png(C.encode_png_ex(arr, color=2))
        inter = C.decode_png(C.encode_png_ex(arr, color=2, interlace=True))
        assert (plain == arr).all()
        assert (inter == arr).all(), (h, w)


def test_png_sub8_gray_scales_by_bit_replication():
    import numpy as _np

    for depth, mult in ((1, 255), (2, 85), (4, 17)):
        arr = _rng(depth).integers(
            0, 1 << depth, size=(5, 11), dtype=_np.uint8
        )
        out = C.decode_png(C.encode_png_ex(arr, color=0, depth=depth))
        assert out.shape == (5, 11, 1)
        assert (out[:, :, 0] == arr * _np.uint8(mult)).all()


def test_png_sub8_palette_and_interlaced_palette():
    import numpy as _np

    idx = _rng(3).integers(0, 16, size=(10, 13), dtype=_np.uint8)
    pal = _rng(4).integers(0, 256, size=(16, 3), dtype=_np.uint8)
    out = C.decode_png(C.encode_png_ex(idx, color=3, depth=4, palette=pal))
    assert (out == pal[idx]).all()
    out_i = C.decode_png(
        C.encode_png_ex(idx, color=3, depth=4, palette=pal, interlace=True)
    )
    assert (out_i == pal[idx]).all()


def test_png_16bit_reduces_to_msb():
    import numpy as _np

    arr = _rng(5).integers(0, 256, size=(6, 6, 3), dtype=_np.uint8)
    out = C.decode_png(C.encode_png_ex(arr, color=2, depth=16))
    assert (out == arr).all()
    gray = _rng(6).integers(0, 256, size=(4, 4), dtype=_np.uint8)
    outg = C.decode_png(C.encode_png_ex(gray, color=0, depth=16))
    assert (outg[:, :, 0] == gray).all()


def test_png_corrupt_palette_and_idat_raise_valueerror():
    import numpy as _np

    import pytest as _pytest

    idx = _np.full((4, 4), 9, dtype=_np.uint8)  # index 9, palette of 5
    pal = _np.zeros((5, 3), dtype=_np.uint8)
    with _pytest.raises(ValueError, match="palette index out of range"):
        C.decode_png(C.encode_png_ex(idx, color=3, palette=pal))

    ok = C.encode_png_ex(idx, color=3, palette=pal)
    no_plte = ok.replace(b"PLTE", b"XXXX")
    with _pytest.raises(ValueError, match="without PLTE"):
        C.decode_png(no_plte)

    arr = _np.zeros((8, 8, 3), dtype=_np.uint8)
    enc = C.encode_png(arr)
    di = enc.find(b"IDAT")
    garbled = enc[: di + 8] + bytes(16) + enc[di + 24 :]
    with _pytest.raises(ValueError, match="corrupt PNG"):
        C.decode_png(garbled)


def test_gif_round_trip_and_sniff():
    import numpy as _np

    idx = _rng(11).integers(0, 7, size=(13, 17), dtype=_np.uint8)
    pal = _rng(12).integers(0, 256, size=(7, 3), dtype=_np.uint8)
    enc = C.encode_gif(idx, pal)
    assert C.sniff(enc) == "gif"
    out = C.decode_gif(enc)
    assert out.shape == (13, 17, 3)
    assert (out == pal[idx]).all()
    assert (C.decode_image(enc) == out).all()


def test_gif_lzw_variable_width_and_table_reset():
    """A large high-entropy frame forces the LZW code width through
    every size up to 12 bits and at least one mid-stream table reset
    (4096-entry cap) — the decoder must track both transitions."""
    import numpy as _np

    idx = _rng(13).integers(0, 256, size=(120, 150), dtype=_np.uint8)
    pal = _rng(14).integers(0, 256, size=(256, 3), dtype=_np.uint8)
    enc = C.encode_gif(idx, pal)
    assert (C.decode_gif(enc) == pal[idx]).all()


def test_gif_interlace_and_transparency():
    import numpy as _np

    idx = _rng(15).integers(0, 4, size=(11, 6), dtype=_np.uint8)
    pal = _rng(16).integers(0, 256, size=(4, 3), dtype=_np.uint8)
    out_i = C.decode_gif(C.encode_gif(idx, pal, interlace=True))
    assert (out_i == pal[idx]).all()

    out_t = C.decode_gif(C.encode_gif(idx, pal, transparent=2))
    assert out_t.shape == (11, 6, 4)
    assert (out_t[:, :, :3] == pal[idx]).all()
    assert (out_t[:, :, 3] == _np.where(idx == 2, 0, 255)).all()


def test_gif_animation_first_frame_and_count():
    import numpy as _np

    f0 = _rng(17).integers(0, 5, size=(8, 8), dtype=_np.uint8)
    f1 = (f0 + 1) % 5
    pal = _rng(18).integers(0, 256, size=(5, 3), dtype=_np.uint8)
    enc = C.encode_gif([f0, f1, f1], pal, transparent=1)
    assert C.gif_frame_count(enc) == 3
    out = C.decode_gif(enc)  # first frame only
    assert (out[:, :, :3] == pal[f0]).all()


def test_gif_corrupt_streams_raise_valueerror():
    import numpy as _np

    import pytest as _pytest

    idx = _rng(19).integers(0, 4, size=(6, 6), dtype=_np.uint8)
    pal = _rng(20).integers(0, 256, size=(4, 3), dtype=_np.uint8)
    enc = C.encode_gif(idx, pal)
    for bad in (
        enc[:20],                    # truncated mid color table/blocks
        enc[:-10],                   # unterminated sub-blocks
        b"GIF89a" + b"\x00" * 7,     # no image descriptor
        b"not a gif",
    ):
        with _pytest.raises(ValueError):
            C.decode_gif(bad)
    # palette index beyond the declared table: 2-entry palette but a
    # frame full of index 3 (still a valid 2-bit LZW alphabet)
    small = C.encode_gif(
        _np.full((4, 4), 3, dtype=_np.uint8),
        _np.zeros((2, 3), dtype=_np.uint8),
    )
    with _pytest.raises(ValueError):
        C.decode_gif(small)


def test_gif_frames_compositing_and_disposal():
    """decode_gif_frames composites with GIF89a semantics: transparent
    pixels show the prior canvas, disposal 2 restores the rect to
    background, disposal 3 restores the previous canvas; timestamps
    accumulate the GCE delays."""
    import numpy as _np

    pal = _np.array(
        [[10, 10, 10], [200, 0, 0], [0, 200, 0], [0, 0, 200]],
        dtype=_np.uint8,
    )
    f0 = _np.full((6, 6), 1, dtype=_np.uint8)        # all red
    f1 = _np.full((2, 2), 2, dtype=_np.uint8)        # green patch
    f2 = _np.full((2, 2), 3, dtype=_np.uint8)        # blue patch
    enc = C.encode_gif(
        [f0, f1, f2], pal,
        delays_ms=[100, 50, 50],
        disposal=[1, 3, 0],  # keep, restore-previous, keep
        rects=[(0, 0), (2, 2), (0, 0)],
    )
    frames = C.decode_gif_frames(enc)
    assert [ts for ts, _ in frames] == [0, 100, 150]
    # frame 0: all red
    assert (frames[0][1] == pal[1]).all()
    # frame 1: red with a green 2x2 patch at (2,2)
    assert (frames[1][1][2:4, 2:4] == pal[2]).all()
    assert (frames[1][1][0, 0] == pal[1]).all()
    # frame 2: disposal 3 undid the green patch -> red with blue at (0,0)
    assert (frames[2][1][0:2, 0:2] == pal[3]).all()
    assert (frames[2][1][2:4, 2:4] == pal[1]).all()


def test_gif_frames_transparency_and_background_disposal():
    import numpy as _np

    pal = _np.array(
        [[5, 5, 5], [255, 0, 0], [0, 255, 0]], dtype=_np.uint8
    )
    f0 = _np.full((4, 4), 1, dtype=_np.uint8)
    f1 = _np.array(
        [[2, 0], [0, 2]], dtype=_np.uint8
    )  # index 0 transparent
    enc = C.encode_gif(
        [f0, f1, f1], pal,
        transparent=0,
        delays_ms=40,
        disposal=[2, 0, 0],  # restore f0's rect to bg before f1
        rects=[(0, 0), (1, 1), (1, 1)],
    )
    frames = C.decode_gif_frames(enc)
    assert [ts for ts, _ in frames] == [0, 40, 80]
    # f0 drew red everywhere EXCEPT... transparent=0, f0 is all 1s →
    # full red; disposal 2 then wipes to background (palette 0)
    assert (frames[0][1] == pal[1]).all()
    c1 = frames[1][1]
    assert (c1[0, 0] == pal[0]).all()          # background after wipe
    assert (c1[1, 1] == pal[2]).all()          # green where idx==2
    assert (c1[1, 2] == pal[0]).all()          # transparent → bg shows
    # frames only re-composite identically
    assert (frames[2][1] == c1).all()


def test_decoders_uniform_valueerror_contract_on_truncation():
    """Truncate every codec's valid stream at many byte offsets: each
    decode must either succeed or raise ValueError — NEVER struct.error
    / IndexError / zlib.error etc. (via _corrupt_as_valueerror)."""
    import numpy as _np

    idx = _rng(30).integers(0, 4, size=(9, 9), dtype=_np.uint8)
    pal = _rng(31).integers(0, 256, size=(4, 3), dtype=_np.uint8)
    img = _rng(32).integers(0, 256, size=(17, 13, 3), dtype=_np.uint8)
    cases = [
        (C.encode_gif([idx, idx], pal, delays_ms=50), C.decode_gif_frames),
        (C.encode_gif(idx, pal), C.decode_gif),
        (C.encode_png(img), C.decode_png),
        (C.encode_png_ex(img, color=2, interlace=True), C.decode_png),
        (C.encode_bmp(img), C.decode_bmp),
    ]
    for enc, dec in cases:
        for cut in range(0, len(enc), 3):
            try:
                dec(enc[:cut])
            except ValueError:
                pass  # the contract


# --- property tests (hypothesis) -------------------------------------------


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=40, deadline=None)
@given(
    data=st.binary(min_size=0, max_size=400),
    mcs=st.integers(min_value=2, max_value=8),
)
def test_lzw_round_trip_property(data, mcs):
    """LZW encode→decode is the identity for any byte stream whose
    symbols fit the alphabet (values masked into [0, 2^mcs))."""
    syms = bytes(b % (1 << mcs) for b in data)
    enc = C._lzw_encode(syms, mcs)
    assert C._lzw_decode(enc, mcs, len(syms)) == syms


@settings(max_examples=25, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=24),
    w=st.integers(min_value=1, max_value=24),
    depth=st.sampled_from([1, 2, 4, 8, 16]),
    interlace=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_png_matrix_round_trip_property(h, w, depth, interlace, seed):
    """Any (size × depth × interlace) grayscale PNG round-trips: the
    decoder returns the encoder's samples scaled per spec."""
    rng = np.random.RandomState(seed % 2**31)
    hi = 256 if depth >= 8 else (1 << depth)
    arr = rng.randint(0, hi, size=(h, w)).astype(np.uint8)
    out = C.decode_png(
        C.encode_png_ex(arr, color=0, depth=depth, interlace=interlace)
    )[:, :, 0]
    if depth < 8:
        assert (out == arr * np.uint8(255 // ((1 << depth) - 1))).all()
    else:
        assert (out == arr).all()


def _webp(fourcc: bytes, body: bytes) -> bytes:
    chunk = fourcc + len(body).to_bytes(4, "little") + body
    if len(body) % 2:
        chunk += b"\x00"
    return b"RIFF" + (4 + len(chunk)).to_bytes(4, "little") + b"WEBP" + chunk


def test_image_meta_headers_only():
    """image_meta reads dimensions/type flags from headers without
    decoding — including WebP VP8 (lossy), VP8L (lossless), and VP8X
    (extended: canvas dims + alpha/animation flags)."""
    import numpy as _np

    img = _rng(50).integers(0, 256, (15, 22, 3), dtype=_np.uint8)
    m = C.image_meta(C.encode_png(img))
    assert (m["format"], m["width"], m["height"]) == ("png", 22, 15)
    m = C.image_meta(
        C.encode_png_ex(img[:, :, 0], color=0, depth=4, interlace=True)
    )
    assert m["flags"] == "interlaced"
    idx = _np.zeros((7, 9), dtype=_np.uint8)
    pal = _np.zeros((2, 3), dtype=_np.uint8)
    m = C.image_meta(C.encode_gif([idx, idx, idx], pal, delays_ms=50))
    assert (m["width"], m["height"], m["n_frames"]) == (9, 7, 3)
    assert "animated" in m["flags"] and "palette" in m["flags"]
    m = C.image_meta(C.encode_bmp(img))
    assert (m["format"], m["width"], m["height"]) == ("bmp", 22, 15)

    # WebP: hand-built headers (pixel decode needs libwebp; the
    # header layouts are from the public container/bitstream specs)
    vp8 = _webp(
        b"VP8 ",
        b"\x00\x00\x00" + b"\x9d\x01\x2a"
        + (320).to_bytes(2, "little") + (240).to_bytes(2, "little"),
    )
    m = C.image_meta(vp8)
    assert (m["format"], m["width"], m["height"]) == ("webp", 320, 240)
    bits = (99 - 1) | ((77 - 1) << 14) | (1 << 28)
    vp8l = _webp(b"VP8L", b"\x2f" + bits.to_bytes(4, "little"))
    m = C.image_meta(vp8l)
    assert (m["width"], m["height"]) == (99, 77)
    assert "lossless" in m["flags"] and "alpha" in m["flags"]
    vp8x = _webp(
        b"VP8X",
        bytes([0x10 | 0x02, 0, 0, 0])
        + (639).to_bytes(3, "little") + (479).to_bytes(3, "little"),
    )
    m = C.image_meta(vp8x)
    assert (m["width"], m["height"]) == (640, 480)
    assert "alpha" in m["flags"] and "animated" in m["flags"]
    assert C.sniff(vp8x) == "webp"

    import pytest as _pytest

    for bad in (b"RIFF\x10\x00\x00\x00WEBPXXXX\x00\x00\x00\x00",
                b"not an image", vp8l[:15]):
        with _pytest.raises(ValueError):
            C.image_meta(bad)


def test_gif_zero_delay_frames_get_distinct_timestamps():
    """delay=0 ('as fast as possible') animations clamp to 100 ms per
    frame so grid sampling can see every frame instead of collapsing
    50 equal-ts frames into one (review fix)."""
    import numpy as _np

    pal = _np.zeros((2, 3), dtype=_np.uint8)
    frames = [_np.full((3, 3), i % 2, dtype=_np.uint8) for i in range(5)]
    fr = C.decode_gif_frames(C.encode_gif(frames, pal, delays_ms=0))
    assert [ts for ts, _ in fr] == [0, 100, 200, 300, 400]


def test_gif_first_frame_background_consistent_across_decoders():
    """decode_gif and decode_gif_frames render the SAME first frame:
    both fill uncovered canvas with the header background index
    (review fix: one used entry 0, the other the header's bg)."""
    import numpy as _np

    pal = _np.array(
        [[10, 10, 10], [200, 0, 0], [0, 200, 0]], dtype=_np.uint8
    )
    patch = _np.full((2, 2), 2, dtype=_np.uint8)
    enc = bytearray(C.encode_gif([patch], pal, rects=[(1, 1)]))
    # logical screen must be larger than the 2x2 frame: patch the LSD
    # dims (encode_gif sizes the screen by frame 0) and set bg=1
    enc[6:8] = (4).to_bytes(2, "little")
    enc[8:10] = (4).to_bytes(2, "little")
    enc[11] = 1  # background color index
    a = C.decode_gif(bytes(enc))
    b = C.decode_gif_frames(bytes(enc))[0][1]
    assert (a == b).all()
    assert (a[0, 0] == pal[1]).all()   # uncovered corner = bg index 1
    assert (a[1:3, 1:3] == pal[2]).all()


def test_image_meta_webp_chunk_walk_not_substring_scan():
    """ANMF frame count and the lossless flag come from walking RIFF
    chunk headers, not substring scans — 'ANMF'/'VP8L' bytes inside
    compressed frame data don't count (review fix)."""
    # one real ANMF chunk whose payload CONTAINS the bytes 'ANMF' and
    # 'VP8L' (as compressed data would, 1/2^32 of the time at scale)
    anmf_body = b"\x00" * 16 + b"VP8 " + (8).to_bytes(4, "little") \
        + b"ANMFVP8L"
    chunk = b"ANMF" + len(anmf_body).to_bytes(4, "little") + anmf_body
    vp8x = (
        b"VP8X" + (10).to_bytes(4, "little")
        + bytes([0x02, 0, 0, 0])
        + (15).to_bytes(3, "little") + (9).to_bytes(3, "little")
    )
    body = vp8x + chunk
    payload = (
        b"RIFF" + (4 + len(body)).to_bytes(4, "little") + b"WEBP" + body
    )
    m = C.image_meta(payload)
    assert m["n_frames"] == 1          # ONE chunk, not 2 substrings
    assert "lossless" not in m["flags"]  # VP8 frame, not VP8L
    assert (m["width"], m["height"]) == (16, 10)

    # and a genuinely lossless animated frame IS detected (VP8L as
    # the ANMF sub-chunk after the 16-byte frame header)
    anmf2 = b"\x00" * 16 + b"VP8L" + (5).to_bytes(4, "little") \
        + b"\x2f\x00\x00\x00\x00"
    chunk2 = b"ANMF" + len(anmf2).to_bytes(4, "little") + anmf2 + b"\x00"
    body2 = vp8x + chunk2
    p2 = b"RIFF" + (4 + len(body2)).to_bytes(4, "little") + b"WEBP" + body2
    assert "lossless" in C.image_meta(p2)["flags"]


def test_image_meta_negative_bmp_width_and_sofn_dims():
    import struct as _struct

    import numpy as _np

    import pytest as _pytest

    img = _np.zeros((4, 6, 3), dtype=_np.uint8)
    bmp = bytearray(C.encode_bmp(img))
    bmp[18:22] = _struct.pack("<i", -6)
    with _pytest.raises(ValueError, match="negative width"):
        C.image_meta(bytes(bmp))
    # top-down (negative height) stays legal
    bmp2 = bytearray(C.encode_bmp(img))
    bmp2[22:26] = _struct.pack("<i", -4)
    assert C.image_meta(bytes(bmp2))["height"] == 4


def test_apng_compositing_blend_and_dispose():
    """APNG frames composite per spec: blend 0 replaces the region,
    blend 1 alpha-composites OVER; dispose 1 clears to transparent,
    dispose 2 restores the previous canvas; ts accumulates fcTL
    delays (num/den with den transmitted as 1000 by the fixture)."""
    import numpy as _np

    red = _np.zeros((6, 6, 4), dtype=_np.uint8)
    red[:] = (200, 0, 0, 255)
    half_green = _np.zeros((2, 2, 4), dtype=_np.uint8)
    half_green[:] = (0, 200, 0, 128)  # 50% alpha patch
    blue = _np.zeros((2, 2, 4), dtype=_np.uint8)
    blue[:] = (0, 0, 200, 255)
    enc = C.encode_apng(
        [red, half_green, blue],
        delays_ms=[100, 50, 50],
        dispose=[0, 2, 0],   # keep, restore-previous, keep
        blend=[0, 1, 0],     # source, OVER, source
        rects=[(0, 0), (2, 2), (0, 0)],
    )
    assert C.sniff(enc) == "png"
    assert C.png_animation_info(enc) == (3, True)
    frames = C.decode_apng_frames(enc)
    assert [ts for ts, _ in frames] == [0, 100, 150]
    assert (frames[0][1][0, 0] == (200, 0, 0, 255)).all()
    # frame 1: 50%-alpha green OVER red at (2,2):
    # rgb = .5*green + .5*red, alpha = 1
    px = frames[1][1][2, 2]
    assert abs(int(px[0]) - 100) <= 1 and abs(int(px[1]) - 100) <= 1
    assert px[3] == 255
    # frame 2: dispose 2 restored red, then blue painted at (0,0)
    assert (frames[2][1][0, 0] == (0, 0, 200, 255)).all()
    assert (frames[2][1][2, 2] == (200, 0, 0, 255)).all()

    # plain PNGs report not-animated and refuse frame decode
    import numpy as _np2

    still = C.encode_png(_np.zeros((3, 3, 3), dtype=_np.uint8))
    assert C.png_animation_info(still) == (1, False)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no acTL"):
        C.decode_apng_frames(still)


def test_apng_dispose_background_and_meta():
    import numpy as _np

    a = _np.full((4, 4, 4), 255, dtype=_np.uint8)
    b = _np.zeros((2, 2, 4), dtype=_np.uint8)
    b[:] = (9, 9, 9, 255)
    enc = C.encode_apng(
        [a, b, b], dispose=[1, 0, 0], rects=[(0, 0), (1, 1), (1, 1)]
    )
    frames = C.decode_apng_frames(enc)
    # dispose 1 after frame 0 cleared the full canvas to transparent
    assert (frames[1][1][0, 0] == (0, 0, 0, 0)).all()
    assert (frames[1][1][1, 1] == (9, 9, 9, 255)).all()
    m = C.image_meta(enc)
    assert m["n_frames"] == 3 and "animated" in m["flags"]
    # truncation sweep: APNG obeys the ValueError contract too
    for cut in range(0, len(enc), 5):
        try:
            C.decode_apng_frames(enc[:cut])
        except ValueError:
            pass


def test_ico_round_trip_32_and_24_bit():
    """ICO favicons: 32-bit BGRA entries use their alpha channel;
    24-bit entries take alpha from the 1-bit AND mask; decode picks
    the LARGEST directory entry; embedded-PNG entries route through
    the full PNG decoder."""
    import numpy as _np

    small = _rng(60).integers(0, 256, (8, 8, 4), dtype=_np.uint8)
    big = _rng(61).integers(0, 256, (16, 16, 4), dtype=_np.uint8)
    enc = C.encode_ico([small, big])
    assert C.sniff(enc) == "ico"
    out = C.decode_ico(enc)
    assert out.shape == (16, 16, 4)
    assert (out == big).all()
    assert (C.decode_image(enc) == out).all()

    a24 = _rng(62).integers(0, 256, (10, 7, 4), dtype=_np.uint8)
    a24[:, :, 3] = 255
    a24[0, 0, 3] = 0  # transparent via AND mask
    out24 = C.decode_ico(C.encode_ico([a24], bpp=24))
    assert (out24[:, :, :3] == a24[:, :, :3]).all()
    assert out24[0, 0, 3] == 0 and out24[1, 1, 3] == 255

    # PNG-payload entry (the modern high-res convention)
    png_entry = C.encode_png(big)
    hdr = C.encode_ico([small])
    ico_png = (
        hdr[:6]
        + __import__("struct").pack(
            "<BBBBHHII", 16, 16, 0, 0, 1, 32, len(png_entry), 22
        )
        + png_entry
    )
    out_p = C.decode_ico(ico_png)
    assert (out_p == big).all()

    m = C.image_meta(enc)
    assert (m["format"], m["width"], m["height"], m["n_frames"]) == (
        "ico", 16, 16, 2,
    )
    import pytest as _pytest

    for cut in range(0, len(enc), 7):  # ValueError contract
        try:
            C.decode_ico(enc[:cut])
        except ValueError:
            pass
    with _pytest.raises(ValueError):
        C.decode_ico(b"\x00\x00\x01\x00\x00\x00")  # zero entries


def test_ico_legacy_zero_alpha_falls_back_to_and_mask():
    """Pre-XP 32-bpp icons zero the alpha plane and carry transparency
    only in the AND mask — the decoder must fall back to the mask
    instead of returning a fully transparent icon (review fix); a
    truncated png_animation_info obeys the ValueError contract."""
    import numpy as _np

    import pytest as _pytest

    icon = _rng(70).integers(0, 256, (6, 6, 4), dtype=_np.uint8)
    icon[:, :, 3] = 200
    enc = bytearray(C.encode_ico([icon], bpp=32))
    out = C.decode_ico(bytes(enc))
    assert (out[:, :, 3] == 200).all()  # real alpha respected
    # zero the alpha plane in place: every 4th byte of the BGRA rows
    dib_off = 6 + 16
    px_start = dib_off + 40
    for i in range(px_start + 3, px_start + 6 * 6 * 4, 4):
        enc[i] = 0
    out0 = C.decode_ico(bytes(enc))
    assert (out0[:, :, 3] == 255).all()  # empty AND mask → opaque
    assert (out0[:, :, :3] == out[:, :, :3]).all()

    apng = C.encode_apng([_np.zeros((3, 3, 4), dtype=_np.uint8)] * 2)
    ac = apng.find(b"acTL")
    with _pytest.raises(ValueError):
        C.png_animation_info(apng[: ac + 6])  # truncated inside acTL


@settings(max_examples=120, deadline=None)
@given(data=st.binary(max_size=400))
def test_every_parser_valueerror_contract_on_random_bytes(data):
    """Random bytes into EVERY public parse/decode surface: each call
    either succeeds or raises ValueError — never any other exception
    type (the _corrupt_as_valueerror contract, fuzz-checked)."""
    C.sniff(data)  # never raises at all
    for fn in (
        C.image_meta, C.decode_png, C.decode_gif, C.decode_gif_frames,
        C.decode_apng_frames, C.png_animation_info, C.gif_frame_count,
        C.decode_ico, C.decode_bmp, C.decode_image,
    ):
        try:
            fn(data)
        except ValueError:
            pass


# --- real-encoder cross-format validation (CPython imghdrdata) -------------


def _imghdr(name):
    p = os.path.join(os.path.dirname(__file__), "golden",
                     f"cpython_logo.{name}")
    with open(p, "rb") as f:
        return f.read()


def test_cross_format_fixtures_agree_pixelwise():
    """CPython's test-suite fixtures carry the SAME 16x16 logo in many
    formats, each written by real tooling — decoding them with OUR
    independent decoders and comparing pixels validates the whole
    family against real encoder output, not just our own duals:

    - 32-bpp BI_BITFIELDS BMP == RGBA PNG, byte-exact incl. alpha
      (two real encoders, two of our decoders);
    - binary PPM == the PNG's RGB plane, byte-exact;
    - PBM == XBM pixel-exact (opposite bit orders: PBM packs MSB-
      first, XBM LSB-first — agreement pins BOTH bit-order paths);
    - PGM stays within rounding distance of the PNG's ITU-R luma
      (independently generated, not byte-derived — bounded, not
      pinned)."""
    png = C.decode_png(_imghdr("png"))
    bmp = C.decode_bmp(_imghdr("bmp"))
    assert bmp.shape == (16, 16, 4)
    assert (bmp == png).all()

    ppm = C.decode_pnm(_imghdr("ppm"))
    assert ppm.shape == (16, 16, 3)
    assert (ppm == png[:, :, :3]).all()

    pbm = C.decode_pnm(_imghdr("pbm"))
    xbm = C.decode_xbm(_imghdr("xbm"))
    assert pbm.shape == xbm.shape == (16, 16)
    assert (pbm == xbm).all()
    assert 0 in pbm and 255 in pbm  # bilevel content, both values

    pgm = C.decode_pnm(_imghdr("pgm"))
    luma = (0.299 * png[:, :, 0] + 0.587 * png[:, :, 1]
            + 0.114 * png[:, :, 2])
    assert np.abs(pgm.astype(float) - luma).max() <= 4.0


def test_pnm_all_six_types_round_trip_and_ascii():
    rng = np.random.RandomState(7)
    rgb = rng.randint(0, 256, size=(9, 11, 3)).astype(np.uint8)
    gray = rng.randint(0, 256, size=(9, 11)).astype(np.uint8)
    bits = rng.randint(0, 2, size=(9, 11)).astype(bool)
    assert (C.decode_pnm(C.encode_pnm(rgb)) == rgb).all()
    assert (C.decode_pnm(C.encode_pnm(gray)) == gray).all()
    # P4 set bit = black = 0
    assert (C.decode_pnm(C.encode_pnm(bits))
            == np.where(bits, 0, 255)).all()
    # ASCII forms, hand-assembled with comments and maxval scaling
    p2 = b"P2\n# comment\n3 2\n# another\n15\n0 15 7\n15 0 8\n"
    out = C.decode_pnm(p2)
    assert out.tolist() == [[0, 255, 119], [255, 0, 136]]
    p1 = b"P1\n2 2\n1 0\n0 1\n"
    assert C.decode_pnm(p1).tolist() == [[0, 255], [255, 0]]
    p3 = b"P3\n1 1\n255\n1 2 3\n"
    assert C.decode_pnm(p3).tolist() == [[[1, 2, 3]]]
    # 16-bit P5 reduces by maxval scaling
    p5 = b"P5\n1 1\n65535\n" + (32768).to_bytes(2, "big")
    assert C.decode_pnm(p5)[0, 0] == (32768 * 255) // 65535


def test_pnm_xbm_corrupt_raise_valueerror():
    import pytest as _pytest

    for bad in (
        b"P7\n1 1\n255\nx",             # unknown type (sniffs unknown)
        b"P6\n0 0\n255\n",              # zero dims
        b"P6\n2 2\n255\nxx",            # truncated raster
        b"P2\n2 1\n15\n99 0\n",         # sample over maxval
        b"P6\n2 2\n0\n\x00" * 3,        # bad maxval
        b"#define w 4\nchar x[] = {};",  # xbm: missing height
        b"#define a_width 8\n#define a_height 2\nchar b[]={0x01};",
    ):
        with _pytest.raises(ValueError):
            (C.decode_pnm if bad[:1] == b"P" else C.decode_xbm)(bad)


def test_sniff_and_dispatch_pnm_xbm():
    assert C.sniff(_imghdr("ppm")) == "pnm"
    assert C.sniff(_imghdr("pbm")) == "pnm"
    assert C.sniff(_imghdr("xbm")) == "xbm"
    assert C.decode_image(_imghdr("ppm")).shape == (16, 16, 3)
    assert C.decode_image(_imghdr("xbm")).shape == (16, 16)


def test_ras_sgi_tiff_fixtures_match_png_exactly():
    """Three more real-encoder validations from the same fixture set:
    Sun Raster (32-bit RT_FORMAT_RGB), SGI (RLE, channel-planar,
    bottom-up — the RLE path validated against real tooling output)
    and baseline TIFF (uncompressed RGBA strips) all decode to the
    identical pixels as the PNG sibling."""
    png = C.decode_png(_imghdr("png"))
    ras = C.decode_ras(_imghdr("ras"))
    assert ras.shape == (16, 16, 3)
    assert (ras == png[:, :, :3]).all()
    sgi = C.decode_sgi(_imghdr("sgi"))
    assert sgi.shape == (16, 16, 4)
    assert (sgi == png).all()
    tif = C.decode_tiff(_imghdr("tiff"))
    assert tif.shape == (16, 16, 4)
    assert (tif == png).all()
    for name in ("ras", "sgi", "tiff"):
        assert C.sniff(_imghdr(name)) == name
        assert C.decode_image(_imghdr(name)).shape[:2] == (16, 16)


def test_ras_sgi_tiff_corrupt_raise_valueerror():
    ras, sgi, tif = _imghdr("ras"), _imghdr("sgi"), _imghdr("tiff")
    import pytest as _pytest

    for payload, fn in (
        (ras[:20], C.decode_ras),
        (ras[:40], C.decode_ras),           # truncated raster
        (sgi[:100], C.decode_sgi),          # truncated tables
        (tif[:6], C.decode_tiff),
        (tif[:200], C.decode_tiff),         # strip out of bounds
        (b"\x59\xa6\x6a\x95" + b"\x00" * 28, C.decode_ras),  # 0 dims
    ):
        with _pytest.raises(ValueError):
            fn(payload)


def test_packbits_round_trip_via_hand_stream():
    # hand-assembled PackBits: literal run of 3, repeat of 4, no-op
    src = bytes([2, 10, 20, 30]) + bytes([253, 7]) + bytes([128]) \
        + bytes([0, 99])
    assert C._packbits(src, 8) == bytes([10, 20, 30, 7, 7, 7, 7, 99])


def test_exr_fixture_matches_png_and_round_trips():
    """OpenEXR: the fixture (HALF RGBA, compression NONE) decodes to
    EXACTLY the PNG sibling's pixels under direct 255-scaling (this
    fixture stores display-referred values), alpha included — a real-
    encoder validation for the header/scanline paths. The ZIP/ZIPS
    paths round-trip through the encoder dual at HALF precision,
    HDR values above 1.0 preserved."""
    png = C.decode_png(_imghdr("png"))
    exr = C.decode_exr(_imghdr("exr"))
    assert exr.shape == (16, 16, 4) and exr.dtype == np.float32
    as8 = np.clip(np.round(exr * 255), 0, 255).astype(np.uint8)
    assert (as8 == png).all()
    assert C.sniff(_imghdr("exr")) == "exr"
    assert (C.decode_image(_imghdr("exr")) == png).all()

    rng = np.random.RandomState(5)
    for shape in [(5, 7, 4), (33, 9, 1), (16, 16, 3)]:
        src = (rng.rand(*shape) * 2).astype(np.float32)  # HDR > 1.0
        half = src.astype(np.float16).astype(np.float32)
        for comp in ("none", "zips", "zip"):
            out = C.decode_exr(C.encode_exr(src, comp))
            assert out.shape == shape and (out == half).all()


def test_exr_corrupt_raise_valueerror():
    import pytest as _pytest

    good = _imghdr("exr")
    for bad in (good[:4], good[:100], good[:400],
                good[:8] + b"\x00",
                b"\x76\x2f\x31\x01\x03" + good[5:]):
        with _pytest.raises(ValueError):
            C.decode_exr(bad)


def test_review_fixes_round5_close():
    import pytest as _pytest

    # plain-PNM '#' comments run to EOL inside the raster
    out = C.decode_pnm(b"P2\n2 2\n15\n# a comment line\n0 15\n7 8\n")
    assert out.tolist() == [[0, 255], [119, 136]]
    # P1 pixels may be packed without whitespace
    assert C.decode_pnm(b"P1\n2 2\n1010\n").tolist() == \
        [[0, 255], [0, 255]]
    # CMYK/YCbCr TIFF must raise, not serve wrong colors
    cmyk = bytearray(_imghdr("tiff"))
    # photometric tag (262) value lives in the IFD; patch it to 5
    off = int.from_bytes(cmyk[4:8], "little")
    n = int.from_bytes(cmyk[off:off + 2], "little")
    for i in range(n):
        e = off + 2 + 12 * i
        if int.from_bytes(cmyk[e:e + 2], "little") == 262:
            cmyk[e + 8] = 5
    with _pytest.raises(ValueError):
        C.decode_tiff(bytes(cmyk))
    # negative RAS maplen must not walk backwards into the header
    import struct as _struct
    bad = _struct.pack(">8i", 0x59A66A95, 2, 2, 24, 0, 1, 0, -10) \
        + b"\x00" * 14
    with _pytest.raises(ValueError):
        C.decode_ras(bad)
    # BI_BITFIELDS masks wider than 24 bits scale without overflow
    assert C._mask_extract(
        np.array([[0xFFFFFFFF]], dtype=np.uint32), 0xFFFFFFFF
    )[0, 0] == 255
    # EXR deep-data / multipart flags are rejected cleanly
    exr = bytearray(_imghdr("exr"))
    for flag in (0x08, 0x10):
        exr[5] = flag
        with _pytest.raises(ValueError):
            C.decode_exr(bytes(exr))


def test_new_decoder_family_uniform_error_contract_fuzz():
    """Every new decoder upholds the corrupt->ValueError contract
    under truncation and byte-flip fuzz of its real fixture: the only
    acceptable outcomes are a clean decode (some flips land in pixel
    data) or ValueError - never IndexError/struct.error/KeyError or
    silent hangs."""
    cases = [
        ("cpython_logo.ppm", C.decode_pnm),
        ("cpython_logo.pbm", C.decode_pnm),
        ("cpython_logo.xbm", C.decode_xbm),
        ("cpython_logo.ras", C.decode_ras),
        ("cpython_logo.sgi", C.decode_sgi),
        ("cpython_logo.tiff", C.decode_tiff),
        ("cpython_logo.exr", C.decode_exr),
        ("cpython_logo.bmp", C.decode_bmp),
    ]
    rng = np.random.RandomState(11)
    for name, fn in cases:
        good = _imghdr(name.split(".")[-1])
        for cut in (3, 9, len(good) // 3, len(good) // 2,
                    len(good) - 7):
            try:
                fn(good[:cut])
            except ValueError:
                pass
        for _ in range(40):
            b = bytearray(good)
            for _ in range(3):
                b[int(rng.randint(0, len(b)))] = int(
                    rng.randint(0, 256))
            try:
                fn(bytes(b))
            except ValueError:
                pass


def test_image_meta_covers_round5_formats():
    """The header-only admission path reads dims for every decodable
    format — a format that decodes but can't be admitted cheaply
    would force full decode just to filter."""
    for name, flags_expect in (
        ("ppm", ""), ("pbm", ""), ("xbm", ""), ("ras", "alpha"),
        ("sgi", "alpha"), ("tiff", "alpha"), ("exr", "lossless"),
    ):
        m = C.image_meta(_imghdr(name))
        assert (m["width"], m["height"]) == (16, 16), name
        if flags_expect:
            assert flags_expect in m["flags"], (name, m["flags"])


def test_tiff_structured_ifd_fuzz():
    """Structured fuzz: random IFD tables (random tags, types, counts,
    offsets) against decode_tiff and image_meta — every outcome must
    be a clean decode or ValueError."""
    import struct as _struct

    rng = np.random.RandomState(21)
    for _ in range(120):
        n = int(rng.randint(0, 12))
        entries = b""
        for _ in range(n):
            entries += _struct.pack(
                "<HHI",
                int(rng.choice([256, 257, 258, 259, 262, 273, 277,
                                278, 279, 284, 320,
                                int(rng.randint(0, 65535))])),
                int(rng.randint(0, 14)),
                int(rng.randint(0, 1 << rng.randint(1, 20))),
            ) + bytes(rng.randint(0, 256, 4, dtype=np.uint8))
        payload = (b"II*\x00" + _struct.pack("<I", 8)
                   + _struct.pack("<H", n) + entries
                   + _struct.pack("<I", 0)
                   + bytes(rng.randint(0, 256,
                                       int(rng.randint(0, 300)),
                                       dtype=np.uint8)))
        for fn in (C.decode_tiff, C.image_meta):
            try:
                fn(payload)
            except ValueError:
                pass


def test_bmp_16bpp_rgb555_and_565():
    """16-bpp BMP: default RGB555 (comp 0) and RGB565 BI_BITFIELDS,
    hand-assembled with exact 5/6-bit values scaled per mask width."""
    import struct as _struct

    pix = [(31, 0, 0), (0, 31, 0), (0, 0, 31),
           (31, 31, 0), (10, 20, 5), (31, 31, 31)]

    def rows16(pack):
        out = b""
        for y in (1, 0):  # bottom-up
            row = b"".join(
                _struct.pack("<H", pack(*pix[y * 3 + x]))
                for x in range(3)
            )
            out += row + b"\x00" * ((4 - len(row) % 4) % 4)
        return out

    d555 = rows16(lambda r, g, b: (r << 10) | (g << 5) | b)
    h555 = _struct.pack("<2sIHHI", b"BM", 54 + len(d555), 0, 0, 54) \
        + _struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 16, 0,
                       len(d555), 2835, 2835, 0, 0)
    img = C.decode_bmp(h555 + d555)
    exp = np.array([[(v * 255) // 31 for v in p] for p in pix],
                   dtype=np.uint8).reshape(2, 3, 3)
    assert (img == exp).all()

    d565 = rows16(lambda r, g, b: (r << 11) | ((g * 2) << 5) | b)
    h565 = _struct.pack("<2sIHHI", b"BM", 66 + len(d565), 0, 0, 66) \
        + _struct.pack("<IiiHHIIiiII", 40, 3, 2, 1, 16, 3,
                       len(d565), 2835, 2835, 0, 0) \
        + _struct.pack("<III", 0xF800, 0x07E0, 0x001F)
    img2 = C.decode_bmp(h565 + d565)
    exp2 = np.array(
        [[(p[0] * 255) // 31, (p[1] * 2 * 255) // 63,
          (p[2] * 255) // 31] for p in pix],
        dtype=np.uint8).reshape(2, 3, 3)
    assert (img2 == exp2).all()
