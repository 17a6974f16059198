"""Real stdlib media codecs (sources/codecs.py): PNG (all five row
filters), 24-bit BMP, PCM WAV — round-trips and adversarial filter
streams. No Spark needed; these are pure bytes↔array kernels."""

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


def test_wav_round_trip_and_features():
    x = np.sin(np.linspace(0, 40 * np.pi, 8000)).astype(np.float32) * 0.8
    y, rate = C.decode_wav(C.encode_wav(x, 16000))
    assert rate == 16000 and y.size == x.size
    assert np.abs(y - x).max() < 2.0 / 32767  # 16-bit quantization
    f = C.audio_features(y, rate)
    # RMS of a 0.8-amplitude sine ≈ 0.8/sqrt(2)
    assert abs(f["rms"] - 0.8 / np.sqrt(2)) < 0.01
    assert f["duration_ms"] == 500
    # spectral features: a pure 40π-over-8000-samples sine at 16 kHz
    # is a 40 Hz tone — centroid ≈ the tone, tiny bandwidth, flatness
    # near 0 (tonal); white noise flips flatness toward 1
    assert abs(f["spectral_centroid_hz"] - 40.0) < 8.0
    assert abs(f["spectral_rolloff_hz"] - 40.0) < 8.0
    assert f["spectral_bandwidth_hz"] < 60.0
    assert f["spectral_flatness"] < 0.01
    noise = (np.random.RandomState(3).rand(8000).astype(np.float32)
             * 2 - 1)
    fn = C.audio_features(noise, 16000)
    assert fn["spectral_flatness"] > 0.5
    assert fn["spectral_centroid_hz"] > 2000.0
    z = C.audio_features(np.zeros(100, np.float32), 8000)
    assert z["spectral_flatness"] == 0.0 and z["spectral_centroid_hz"] == 0.0


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
    assert C.sniff(C.encode_wav(np.zeros(10, np.float32), 8000)) == "wav"
    assert C.sniff(b"\xff\xd8\xff jpeg") == "jpeg"
    assert C.sniff(b"GIF89a" + b"\x00" * 8) == "gif"
    assert C.sniff(b"\x00\x01\x02") == "unknown"


# --- baseline JPEG (round 4: pure-numpy T.81 sequential DCT) ---------------


def _gradient_rgb(h=24, w=33):
    yy, xx = np.mgrid[0:h, 0:w]
    return np.stack(
        [yy * 255 // h, xx * 255 // w, (yy + xx) * 255 // (h + w)],
        axis=-1,
    ).astype(np.uint8)


def test_jpeg_sniff_and_round_trip_444():
    img = _gradient_rgb()
    enc = C.encode_jpeg(img)
    assert C.sniff(enc) == "jpeg"
    dec = C.decode_jpeg(enc)
    assert dec.shape == img.shape and dec.dtype == np.uint8
    err = np.abs(dec.astype(int) - img.astype(int))
    # q50 quantization loss on a smooth gradient stays small
    assert err.mean() < 4 and err.max() < 16


def test_jpeg_420_subsampling_and_restart_markers():
    """4:2:0 chroma + DRI exercise the decoder's generic MCU walk
    (4 Y blocks per MCU) and the RST byte-align / DC-reset path."""
    img = _gradient_rgb(h=37, w=50)  # odd sizes force edge padding
    enc = C.encode_jpeg(img, subsample="420", restart_interval=3)
    assert b"\xff\xdd" in enc and b"\xff\xd0" in enc  # DRI + RST0
    dec = C.decode_jpeg(enc)
    assert dec.shape == img.shape
    err = np.abs(dec.astype(int) - img.astype(int))
    assert err.mean() < 6  # chroma halved: a bit lossier, still close


def test_jpeg_grayscale():
    yy, xx = np.mgrid[0:16, 0:24]
    g = ((yy * 4 + xx * 2) % 200 + 20).astype(np.uint8)
    dec = C.decode_jpeg(C.encode_jpeg(g))
    assert dec.shape == g.shape and dec.ndim == 2
    assert np.abs(dec.astype(int) - g.astype(int)).mean() < 6


def test_jpeg_deterministic_and_decode_pinned():
    """encode and decode are bit-deterministic: the fixture's encoded
    stream and its decoded pixels hash identically across runs (the
    'byte-checked deterministic fixture' the round-4 plan asks for)."""
    import hashlib

    img = _gradient_rgb()
    e1, e2 = C.encode_jpeg(img), C.encode_jpeg(img)
    assert e1 == e2
    d1 = C.decode_jpeg(e1)
    d2 = C.decode_jpeg(e2)
    assert (d1 == d2).all()
    # pin against accidental kernel drift (tables, IDCT, rounding).
    # CAVEAT: the encode path rounds einsum/BLAS float output, so a
    # numpy/BLAS upgrade could legitimately flip a .5-boundary
    # coefficient and change these hashes — if ONLY these two asserts
    # fail after an environment change, re-pin; the determinism
    # asserts above are the correctness claim.
    assert hashlib.md5(e1).hexdigest() == (
        "711b9bde6ee61a5df62de7f7582777d0"
    )
    assert hashlib.md5(d1.tobytes()).hexdigest() == (
        "902bdca5095ba539d5b07bc1bd53c7e3"
    )


def test_jpeg_relabeled_sof2_is_corrupt():
    """A BASELINE stream whose SOF0 marker is flipped to SOF2 is
    corrupt (its single Ss=0..Se=63 scan is illegal in progressive
    mode) — it must raise, not decode as garbage. Real progressive
    streams are covered by test_jpeg_progressive_*."""
    enc = bytearray(C.encode_jpeg(_gradient_rgb()))
    i = bytes(enc).find(b"\xff\xc0")
    enc[i + 1] = 0xC2  # SOF0 → SOF2 (progressive)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        C.decode_jpeg(bytes(enc))


def test_decode_image_dispatch():
    img = _gradient_rgb(8, 8)
    assert (C.decode_image(C.encode_png(img)) == img).all()
    assert (C.decode_image(C.encode_bmp(img)) == img).all()
    assert C.decode_image(C.encode_jpeg(img)).shape == img.shape
    import pytest as _pytest

    with _pytest.raises(ValueError):
        C.decode_image(b"\x00\x01\x02")


def test_jpeg_rejects_multiscan_and_truncated_dri():
    """Silent-garbage guards: a second SOS (multi-scan baseline) and a
    DRI stream truncated at a restart boundary both raise instead of
    decoding zero blocks as flat gray (they must land on the tagged
    'fallback' route, not fake a real decode)."""
    import pytest as _pytest

    img = _gradient_rgb(h=37, w=50)
    enc = C.encode_jpeg(img, subsample="420", restart_interval=2)
    # truncate at the last RST marker: whole MCU intervals go missing
    last_rst = max(enc.rfind(bytes([0xFF, 0xD0 + i])) for i in range(8))
    truncated = enc[:last_rst] + b"\xff\xd9"
    with _pytest.raises(ValueError):
        C.decode_jpeg(truncated)

    # duplicate the SOS header+scan => multi-scan stream
    sos = enc.find(b"\xff\xda")
    eoi = enc.rfind(b"\xff\xd9")
    doubled = enc[:eoi] + enc[sos:eoi] + b"\xff\xd9"
    with _pytest.raises(ValueError):
        C.decode_jpeg(doubled)


def test_jpeg_corrupt_streams_raise_valueerror():
    """The documented failure mode for corrupt-but-sniffed-as-JPEG
    payloads is ValueError — never IndexError/StopIteration/KeyError
    (round-4 review fix). Exercises: SOS naming a component id absent
    from SOF, SOS arriving before any SOF, and a segment truncated
    mid-header."""
    import pytest as _pytest

    enc = C.encode_jpeg(_gradient_rgb(16, 16))

    # SOS names component id 9 which SOF never declared
    sos = enc.find(b"\xff\xda")
    bad_comp = bytearray(enc)
    bad_comp[sos + 5] = 9  # first scan component selector
    with _pytest.raises(ValueError):
        C.decode_jpeg(bytes(bad_comp))

    # SOS before SOF: splice the SOS header+scan right after SOI
    eoi = enc.rfind(b"\xff\xd9")
    premature = enc[:2] + enc[sos:eoi] + b"\xff\xd9"
    with _pytest.raises(ValueError):
        C.decode_jpeg(premature)

    # segment truncated mid-header (struct.unpack would die)
    with _pytest.raises(ValueError):
        C.decode_jpeg(enc[: enc.find(b"\xff\xc4") + 3])


# --- MP4 (ISO BMFF demux) ---------------------------------------------------


def test_mp4_roundtrip_frames_and_timestamps():
    """encode_mp4 → demux_mp4 returns byte-exact samples with the
    cumulative stts timestamps, across multi-chunk stsc layouts and
    run-length stts (mixed per-frame durations)."""
    frames = [bytes([i] * (10 + 7 * i)) for i in range(7)]
    durs = [400, 400, 500, 500, 500, 300, 300]
    enc = C.encode_mp4(frames, durs, samples_per_chunk=3)
    assert C.sniff(enc) == "mp4"
    out = C.demux_mp4(enc)
    assert [b for _, b in out] == frames
    assert [t for t, _ in out] == [0, 400, 800, 1300, 1800, 2300, 2600]
    # uniform int duration + single frame (one chunk, one stts run)
    assert C.demux_mp4(C.encode_mp4([b"xyz"], 250)) == [(0, b"xyz")]
    # non-1000 timescale: ts still lands in ms
    enc2 = C.encode_mp4([b"a", b"bb"], [100, 100], timescale=90000)
    assert [t for t, _ in C.demux_mp4(enc2)] == [0, 100]


def test_mp4_corrupt_streams_raise_valueerror():
    import pytest as _pytest

    enc = C.encode_mp4([b"aaaa", b"bbbb", b"cccc"], 400)
    for bad in (
        enc[:40],                        # no moov at all
        enc[: len(enc) - 10],            # moov truncated mid-box
        b"\x00\x00\x00\x0cftypabcd",     # ftyp only
        enc.replace(b"stco", b"XXXX"),   # sample tables incomplete
        enc.replace(b"mdhd", b"XXXX"),   # no mdhd
        b"not an mp4 at all",            # sniff fails
    ):
        with _pytest.raises(ValueError):
            C.demux_mp4(bad)


def test_mp4_stsz_overrun_rejected():
    """A sample that points past the end of the buffer (truncated
    mdat) raises rather than returning short bytes."""
    import pytest as _pytest
    import struct as _struct

    frames = [b"a" * 32, b"b" * 32]
    enc = C.encode_mp4(frames, 400)
    # inflate the first stsz entry so the sample overruns the file
    si = enc.find(b"stsz")
    entry0 = si + 4 + 4 + 8  # tag + verflags + (fixed, count)
    bad = enc[:entry0] + _struct.pack(">I", 1 << 24) + enc[entry0 + 4:]
    with _pytest.raises(ValueError):
        C.demux_mp4(bad)


def test_jpeg_huge_header_dims_rejected_before_alloc():
    """A tiny payload whose SOF declares 65535x65535 must take the
    ValueError route, not allocate ~17 GB of coefficient planes and
    OOM the worker (round-4 review fix: JPEG_MAX_PIXELS)."""
    import struct as _struct

    import pytest as _pytest

    enc = C.encode_jpeg(_gradient_rgb(16, 16))
    sof = enc.find(b"\xff\xc0")
    # SOF0 payload: len(2) prec(1) H(2) W(2) — patch H and W
    huge = (
        enc[: sof + 5]
        + _struct.pack(">HH", 65535, 65535)
        + enc[sof + 9 :]
    )
    with _pytest.raises(ValueError, match="JPEG_MAX_PIXELS"):
        C.decode_jpeg(huge)
    zero = (
        enc[: sof + 5] + _struct.pack(">HH", 0, 16) + enc[sof + 9 :]
    )
    with _pytest.raises(ValueError, match="zero SOF"):
        C.decode_jpeg(zero)


def test_mp4_zero_sample_track_demuxes_empty():
    """A structurally valid MP4 whose stsz declares 0 samples demuxes
    to [] (not a crash) — sample_frames then takes the stand-in path
    (round-4 review fix)."""
    import struct as _struct

    enc = C.encode_mp4([b"aaaa"], 400)
    si = enc.find(b"stsz")
    cnt = si + 4 + 4 + 4  # tag + verflags + fixed-size field
    patched = enc[:cnt] + _struct.pack(">I", 0) + enc[cnt + 4 :]
    assert C.demux_mp4(patched) == []


def test_mp4_co64_and_stss_keyframes():
    """64-bit chunk offsets (co64) demux identically to stco, and
    keyframes_only restricts to the stss sync set — a grid sampler
    then seeks keyframes like a real video pipeline. Absent stss,
    every sample is sync (ISO 14496-12)."""
    import struct as _struct

    frames = [bytes([i] * (8 + i)) for i in range(9)]
    enc = C.encode_mp4(frames, 400, sync_every=3)
    allsmp = C.demux_mp4(enc)
    assert [b for _, b in allsmp] == frames
    keys = C.demux_mp4(enc, keyframes_only=True)
    assert [b for _, b in keys] == [frames[0], frames[3], frames[6]]
    assert [t for t, _ in keys] == [0, 1200, 2400]
    # no stss → keyframes_only returns everything
    enc_nosync = C.encode_mp4(frames, 400)
    assert C.demux_mp4(enc_nosync, keyframes_only=True) == \
        C.demux_mp4(enc_nosync)

    # rewrite stco as co64 (same offsets, 64-bit) and re-demux:
    # identical samples. The box sizes change, so rebuild the moov
    # by patching the stco box bytes in place.
    si = enc.find(b"stco")
    box_start = si - 4
    (box_len,) = _struct.unpack(">I", enc[box_start:si])
    (nch,) = _struct.unpack(
        ">I", enc[si + 8 : si + 12]
    )
    offs = _struct.unpack(
        f">{nch}I", enc[si + 12 : si + 12 + 4 * nch]
    )
    co64 = (
        _struct.pack(">I", 16 + 8 * nch)
        + b"co64"
        + b"\x00\x00\x00\x00"
        + _struct.pack(">I", nch)
        + b"".join(_struct.pack(">Q", o) for o in offs)
    )
    old_box = enc[box_start : box_start + box_len]
    grown = len(co64) - len(old_box)
    out = bytearray(enc.replace(old_box, co64))
    # fix enclosing box sizes (stbl/minf/mdia/trak/moov grew)
    for tag in (b"stbl", b"minf", b"mdia", b"trak", b"moov"):
        ti = bytes(out).find(tag)
        (osz,) = _struct.unpack(">I", out[ti - 4 : ti])
        out[ti - 4 : ti] = _struct.pack(">I", osz + grown)
    got = C.demux_mp4(bytes(out))
    assert [b for _, b in got] == frames
    assert [t for t, _ in got] == [t for t, _ in allsmp]


def test_mp4_fixed_stsz_overflow_rejected_before_alloc():
    """A fixed-size stsz whose count x size is far beyond the file
    must raise BEFORE materializing [fixed] * n — a corrupt header
    (n = 2^30) would otherwise allocate a multi-GB list and OOM the
    Arrow worker (round-4 review fix)."""
    import struct as _struct

    import pytest as _pytest

    enc = C.encode_mp4([b"a" * 8, b"b" * 8, b"c" * 8], 400)
    si = enc.find(b"stsz")
    fixed_at = si + 4 + 4  # tag + verflags → (fixed, count)
    bad = (
        enc[:fixed_at]
        + _struct.pack(">II", 1 << 30, 1 << 30)
        + enc[fixed_at + 8 :]
    )
    with _pytest.raises(ValueError, match="more sample bytes"):
        C.demux_mp4(bad)


def test_mp4_huge_stts_run_clipped_not_allocated():
    """An stts run count of 0xFFFFFFFF is clipped at the n samples
    stsz declares (not expanded into a ~34 GB delta list): the demux
    succeeds and is identical to the unpatched container (round-4
    review fix)."""
    import struct as _struct

    enc = C.encode_mp4([b"a" * 8, b"b" * 8, b"c" * 8], 400)
    ti = enc.find(b"stts")
    run0_cnt = ti + 4 + 4 + 4  # tag + verflags + entry_count → cnt
    patched = (
        enc[:run0_cnt]
        + _struct.pack(">I", 0xFFFFFFFF)
        + enc[run0_cnt + 4 :]
    )
    assert C.demux_mp4(patched) == C.demux_mp4(enc)


def test_mp4_nonincreasing_stsc_rejected():
    """stsc first_chunk must be strictly increasing (ISO spec); the
    merged cursor walk depends on it, so a corrupt table raises
    instead of mis-slicing samples (round-4 review fix)."""
    import struct as _struct

    import pytest as _pytest

    # 5 frames, 2 per chunk → chunks [2,2,1] → stsc runs (1,2),(3,1)
    enc = C.encode_mp4([b"x" * 4] * 5, 400, samples_per_chunk=2)
    ci = enc.find(b"stsc")
    entry1_fc = ci + 4 + 4 + 4 + 12  # second entry's first_chunk
    bad = (
        enc[:entry1_fc] + _struct.pack(">I", 1) + enc[entry1_fc + 4 :]
    )
    with _pytest.raises(ValueError, match="first_chunk not increasing"):
        C.demux_mp4(bad)


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


def test_jpeg_progressive_matches_baseline_decode():
    """Progressive (SOF2, spectral selection + successive
    approximation) decode is BIT-IDENTICAL to the baseline decode of
    the same image: both encoders quantize to the same coefficients,
    so a correct multi-pass reassembly (DC first/refine, banded AC
    first passes at Al=2/1, refinement down to Al=0 with EOB runs and
    correction bits) reproduces them exactly."""
    import numpy as _np

    cases = [
        (_gradient_rgb(24, 33), "444"),
        (_gradient_rgb(17, 19), "444"),
        (_rng(42).integers(0, 256, (40, 56, 3), dtype=_np.uint8), "444"),
        # 420 shapes where the luma raster (ceil(W/8)) is NARROWER
        # than the MCU-padded grid (mcus_x*2) — the non-interleaved
        # block-order path the padded grid would silently corrupt
        (_rng(7).integers(0, 256, (40, 40, 3), dtype=_np.uint8), "420"),
        (_rng(8).integers(0, 256, (41, 39, 3), dtype=_np.uint8), "420"),
        # flat image: EOB runs spanning many blocks (eobrun >> 1)
        (_np.full((64, 64, 3), 130, dtype=_np.uint8), "444"),
    ]
    for img, sub in cases:
        base = C.decode_jpeg(C.encode_jpeg(img, subsample=sub))
        prog = C.decode_jpeg(
            C.encode_jpeg_progressive(img, subsample=sub)
        )
        assert (base == prog).all(), (img.shape, sub)


def test_jpeg_progressive_grayscale():
    import numpy as _np

    g = _rng(9).integers(0, 256, (23, 31), dtype=_np.uint8)
    base = C.decode_jpeg(C.encode_jpeg(g))
    prog = C.decode_jpeg(C.encode_jpeg_progressive(g))
    assert base.ndim == 2 or base.shape[2:] == ()
    assert (base == prog).all()


def test_jpeg_progressive_truncated_scan_raises():
    import pytest as _pytest

    enc = C.encode_jpeg_progressive(_gradient_rgb(24, 33))
    with _pytest.raises(ValueError):
        C.decode_jpeg(enc[: len(enc) // 2])
    # drop the final refinement scans entirely (truncate after the
    # 3rd SOS): every remaining scan is complete, so decode SUCCEEDS
    # with reduced precision — the progressive contract
    sos_positions = []
    p = 0
    while True:
        p = enc.find(b"\xff\xda", p + 1)
        if p < 0:
            break
        sos_positions.append(p)
    assert len(sos_positions) == 10  # the color scan script
    partial = enc[: sos_positions[3]] + b"\xff\xd9"
    out = C.decode_jpeg(partial)
    full = C.decode_jpeg(enc)
    assert out.shape == full.shape  # coarse but well-formed image


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


def test_jpeg_422_subsampling_baseline_and_progressive():
    """4:2:2 (2x1 luma sampling — horizontal-only chroma downsample):
    previously decoder-claimed but encoder-untestable. Pins both the
    baseline round-trip and progressive bit-equality, including a
    width where the luma raster is narrower than the MCU-padded grid
    (W=40: ceil(40/8)=5 < mcus_x*2=6)."""
    import numpy as _np

    for shape in ((24, 33), (40, 17)):
        img = _rng(shape[0]).integers(
            0, 256, (*shape, 3), dtype=_np.uint8
        )
        enc = C.encode_jpeg(img, subsample="422")
        out = C.decode_jpeg(enc)
        assert out.shape == img.shape
        # lossy but close on smooth content — use the gradient for a
        # quality bound, noise only needs shape + prog equality
        prog = C.decode_jpeg(C.encode_jpeg_progressive(img, "422"))
        assert (out == prog).all(), shape
    g = _gradient_rgb(24, 32)
    out = C.decode_jpeg(C.encode_jpeg(g, subsample="422"))
    assert _np.abs(out.astype(int) - g.astype(int)).mean() < 12.0


def test_decoders_uniform_valueerror_contract_on_truncation():
    """Truncate every codec's valid stream at many byte offsets: each
    decode must either succeed or raise ValueError — NEVER struct.error
    / IndexError / zlib.error etc. The Arrow kernels route per-row on
    `except ValueError`; any other exception type fails a whole batch
    (round-4 hardening: decode_jpeg had this contract, the others got
    it via _corrupt_as_valueerror)."""
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
        (C.encode_jpeg(img), C.decode_jpeg),
        (C.encode_jpeg_progressive(img), C.decode_jpeg),
        (C.encode_mp4([b"abcd" * 4] * 3, 400), C.demux_mp4),
        (
            C.encode_wav(_np.linspace(-1, 1, 300).astype(_np.float32), 8000),
            C.decode_wav,
        ),
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


@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(min_value=1, max_value=32),
    w=st.integers(min_value=1, max_value=32),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    sub=st.sampled_from(["444", "422", "420"]),
)
def test_jpeg_progressive_equals_baseline_property(h, w, seed, sub):
    """For ANY image size/content/subsampling, progressive decode is
    bit-identical to baseline decode (shared quantized coefficients)."""
    rng = np.random.RandomState(seed % 2**31)
    img = rng.randint(0, 256, size=(h, w, 3)).astype(np.uint8)
    base = C.decode_jpeg(C.encode_jpeg(img, subsample=sub))
    prog = C.decode_jpeg(C.encode_jpeg_progressive(img, subsample=sub))
    assert (base == prog).all()


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
    m = C.image_meta(C.encode_jpeg_progressive(img))
    assert (m["width"], m["height"], m["flags"]) == (22, 15, "progressive")
    m = C.image_meta(C.encode_jpeg(img))
    assert m["flags"] == ""

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

    # SOF9 (arithmetic sequential): pixel decode rejects it, but the
    # header-only dimension filter must still report dims
    jpg = bytearray(C.encode_jpeg(img))
    i = bytes(jpg).find(b"\xff\xc0")
    jpg[i + 1] = 0xC9
    m = C.image_meta(bytes(jpg))
    assert (m["width"], m["height"]) == (6, 4)
    with _pytest.raises(ValueError):
        C.decode_jpeg(bytes(jpg))


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


def test_audio_header_meta_wav_mp3_flac_ogg():
    """Header-only audio metadata: WAV via RIFF, MP3 via the first
    Layer-III frame header (ID3v2 skipped, Xing frame count when
    present), FLAC via STREAMINFO, OGG via the Vorbis id header +
    last-page granule. No sample decoding anywhere."""
    import struct as _struct

    import numpy as _np

    wav = C.encode_wav(_np.zeros(8000, _np.float32), 16000)
    m = C.audio_header_meta(wav)
    assert (m["format"], m["sample_rate"], m["duration_ms"]) == (
        "wav", 16000, 500,
    )

    # MP3: ID3v2 tag (10 bytes, zero length) + one MPEG1 L3 frame at
    # 128 kbps / 44100 stereo with an Xing header claiming 38 frames
    hdr = bytes([0xFF, 0xFB, 0x90, 0x00])  # MPEG1, L3, 128k, 44100
    side = bytes(32)
    xing = b"Xing" + _struct.pack(">II", 1, 38)
    frame = hdr + side + xing + bytes(300)
    mp3 = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 0]) + frame
    m = C.audio_header_meta(mp3)
    assert m["format"] == "mp3" and m["sample_rate"] == 44100
    assert m["bitrate_kbps"] == 128 and m["channels"] == 2
    assert m["duration_ms"] == round(1000 * 38 * 1152 / 44100)
    assert C.sniff(mp3) == "mp3"

    # CBR estimate when no Xing: duration = bytes*8/kbps
    mp3_cbr = hdr + bytes(1600 - 4)
    m = C.audio_header_meta(mp3_cbr)
    assert m["duration_ms"] == round(1600 * 8 / 128)

    # FLAC STREAMINFO: 44100 Hz, 2ch, 88200 samples = 2000 ms
    v = (44100 << 44) | (1 << 41) | (15 << 36) | 88200
    streaminfo = bytes(10) + v.to_bytes(8, "big") + bytes(16)
    flac = (
        b"fLaC" + bytes([0x80]) + len(streaminfo).to_bytes(3, "big")
        + streaminfo
    )
    m = C.audio_header_meta(flac)
    assert (m["format"], m["sample_rate"], m["channels"]) == (
        "flac", 44100, 2,
    )
    assert m["duration_ms"] == 2000
    assert C.sniff(flac) == "flac"

    # OGG-Vorbis: id header page + a last page whose granule = 24000
    # samples at 8000 Hz = 3000 ms
    def page(granule, body):
        return (
            b"OggS" + bytes([0, 2]) + granule.to_bytes(8, "little")
            + bytes(12) + bytes([1, len(body)]) + body
        )

    ident = b"\x01vorbis" + bytes(4) + bytes([1]) + (8000).to_bytes(
        4, "little"
    ) + bytes(9)
    ogg = page(0, ident) + page(24000, b"\x05vorbis")
    m = C.audio_header_meta(ogg)
    assert (m["format"], m["sample_rate"], m["channels"]) == (
        "ogg", 8000, 1,
    )
    assert m["duration_ms"] == 3000
    assert C.sniff(ogg) == "ogg"

    import pytest as _pytest

    for bad in (b"fLaC\x00\x00\x00\x04abcd", b"OggS" + bytes(30),
                b"ID3" + bytes(20), b"not audio"):
        with _pytest.raises(ValueError):
            C.audio_header_meta(bad)
    for enc in (mp3, flac, ogg):  # truncation contract
        for cut in range(0, len(enc), 3):
            try:
                C.audio_header_meta(enc[:cut])
            except ValueError:
                pass


def _ebml(eid: int, body: bytes) -> bytes:
    """EBML element with a 2-byte size field (marker bit 0x40)."""
    idlen = (eid.bit_length() + 7) // 8
    assert len(body) < (1 << 14) - 1
    return (
        eid.to_bytes(idlen, "big")
        + (0x4000 | len(body)).to_bytes(2, "big")
        + body
    )


def test_video_header_meta_mp4_and_webm():
    """Video pre-decode metadata: MP4 from mvhd/tkhd/stsd (16.16
    dims, real timescale duration, sample-entry fourcc); WebM from
    the EBML tree (TimecodeScale x Duration, first video TrackEntry's
    PixelWidth/Height/CodecID)."""
    enc = C.encode_mp4(
        [b"x" * 8] * 5, durations_ms=200, width=320, height=180
    )
    m = C.video_header_meta(enc)
    assert (m["format"], m["width"], m["height"]) == ("mp4", 320, 180)
    assert m["duration_ms"] == 1000  # 5 x 200 ms
    assert m["codec"] == "mp4v"
    assert C.sniff(enc) == "mp4"

    import struct as _struct

    video = _ebml(0xB0, (640).to_bytes(2, "big")) + _ebml(
        0xBA, (360).to_bytes(2, "big")
    )
    track = _ebml(
        0xAE,
        _ebml(0x83, b"\x01") + _ebml(0x86, b"V_VP9")
        + _ebml(0xE0, video),
    )
    info = _ebml(0x2AD7B1, (1_000_000).to_bytes(3, "big")) + _ebml(
        0x4489, _struct.pack(">d", 12_500.0)  # 12.5 s in 1 ms units
    )
    segment = _ebml(
        0x18538067,
        _ebml(0x1549A966, info) + _ebml(0x1654AE6B, track),
    )
    webm = _ebml(0x1A45DFA3, b"") + segment
    assert C.sniff(webm) == "webm"
    m = C.video_header_meta(webm)
    assert (m["format"], m["width"], m["height"]) == ("webm", 640, 360)
    assert m["codec"] == "V_VP9"
    assert m["duration_ms"] == 12500

    import pytest as _pytest

    for bad in (b"\x1a\x45\xdf\xa3\x00", enc[:60], b"nope"):
        with _pytest.raises(ValueError):
            C.video_header_meta(bad)
    for cut in range(0, len(webm), 3):  # ValueError contract
        try:
            C.video_header_meta(webm[:cut])
        except ValueError:
            pass


def test_media_meta_review_fixes_bounds_and_vide_trak():
    """Review fixes pinned: (a) a WebM +inf Duration yields a clamped
    int32 duration (never OverflowError through the Arrow batch);
    (b) an OGG whose last page carries granule -1 (continued-packet
    convention) clamps instead of reporting 2^64 ns; (c) WAV bitrate
    uses the header's real sample width."""
    import struct as _struct

    import numpy as _np

    inf_info = _ebml(0x2AD7B1, (1_000_000).to_bytes(3, "big")) + _ebml(
        0x4489, _struct.pack(">d", float("inf"))
    )
    segment = _ebml(0x18538067, _ebml(0x1549A966, inf_info))
    webm = _ebml(0x1A45DFA3, b"") + segment
    m = C.video_header_meta(webm)
    assert m["duration_ms"] == 2**31 - 1  # clamped, no OverflowError

    def page(granule_bytes, body):
        return (
            b"OggS" + bytes([0, 2]) + granule_bytes
            + bytes(12) + bytes([1, len(body)]) + body
        )

    ident = b"\x01vorbis" + bytes(4) + bytes([1]) + (8000).to_bytes(
        4, "little"
    ) + bytes(9)
    ogg = page(bytes(8), ident) + page(b"\xff" * 8, b"\x05vorbis")
    m = C.audio_header_meta(ogg)
    assert m["duration_ms"] == 2**31 - 1  # clamped

    x = _np.zeros(16000, _np.float32)
    m = C.audio_header_meta(C.encode_wav(x, 16000))
    assert m["bitrate_kbps"] == 16000 * 1 * 8 * 2 // 1000  # 16-bit PCM


@settings(max_examples=120, deadline=None)
@given(data=st.binary(max_size=400))
def test_every_parser_valueerror_contract_on_random_bytes(data):
    """Random bytes into EVERY public parse/decode surface: each call
    either succeeds or raises ValueError — never any other exception
    type (the Arrow per-row routing contract, fuzz-checked)."""
    C.sniff(data)  # never raises at all
    for fn in (
        C.image_meta, C.audio_header_meta, C.video_header_meta,
        C.decode_png, C.decode_gif, C.decode_gif_frames,
        C.decode_apng_frames, C.png_animation_info, C.gif_frame_count,
        C.decode_ico, C.decode_bmp, C.decode_jpeg, C.decode_wav,
        C.demux_mp4, C.decode_image,
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


# --- AIFF / AU / G.711 (CPython audiodata fixtures) ------------------------


def _audio(name):
    p = os.path.join(os.path.dirname(__file__), "golden",
                     f"pluck-{name}")
    with open(p, "rb") as f:
        return f.read()


def test_g711_tables_match_stdlib_audioop():
    """The µ-law and A-law expansion tables are pinned bit-exact
    against stdlib audioop (the classic Sun g711.c) for all 256
    codes. Import-guarded: audioop leaves the stdlib in 3.13."""
    audioop = pytest.importorskip("audioop")
    ref_u = np.frombuffer(
        audioop.ulaw2lin(bytes(range(256)), 2), dtype="<i2")
    assert (C._ULAW_TABLE == ref_u).all()
    ref_a = np.frombuffer(
        audioop.alaw2lin(bytes(range(256)), 2), dtype="<i2")
    assert (C._ALAW_TABLE == ref_a).all()


def test_audio_cross_container_same_clip():
    """CPython's audiodata ships the same 'pluck' clip in WAV, AIFF
    and AU at several depths. 24-bit decodes are sample-EXACT across
    all three containers (independent real tooling, three of our
    decoders); 16-bit containers were converted independently and
    agree within 1 LSB; G.711 µ-law/A-law reconstructions stay within
    their quantization step of the PCM16 reference."""
    w24, r = C.decode_wav(_audio("pcm24.wav"))
    a24, r2 = C.decode_aiff(_audio("pcm24.aiff"))
    u24, r3 = C.decode_au(_audio("pcm24.au"))
    assert r == r2 == r3 == 11025
    assert w24.size == a24.size == u24.size == 3307
    assert (w24 == a24).all() and (w24 == u24).all()

    w16, _ = C.decode_wav(_audio("pcm16.wav"))
    a16, _ = C.decode_aiff(_audio("pcm16.aiff"))
    u16, _ = C.decode_au(_audio("pcm16.au"))
    lsb = 1.0 / 32768.0
    # independent conversions with dither: within a few LSB
    assert np.abs(w16 - a16).max() <= 4 * lsb
    assert np.abs(w16 - u16).max() <= 4 * lsb

    ul, _ = C.decode_au(_audio("ulaw.au"))
    ulc, _ = C.decode_aiff(_audio("ulaw.aifc"))
    al, _ = C.decode_aiff(_audio("alaw.aifc"))
    assert np.abs(ul - w16).max() < 0.02   # µ-law quantization bound
    assert np.abs(ulc - w16).max() < 0.02
    assert np.abs(al - w16).max() < 0.02   # A-law quantization bound

    for name, fmt in (("pcm24.aiff", "aiff"), ("pcm24.au", "au"),
                      ("ulaw.aifc", "aiff"), ("ulaw.au", "au")):
        assert C.sniff(_audio(name)) == fmt


def test_aiff_au_corrupt_raise_valueerror():
    import pytest as _pytest

    good_a, good_u = _audio("pcm16.aiff"), _audio("pcm16.au")
    for payload, fn in (
        (good_a[:10], C.decode_aiff),
        (good_a[:40], C.decode_aiff),     # truncated chunk
        (b"FORM\x00\x00\x00\x04AIFF", C.decode_aiff),  # no COMM/SSND
        (good_u[:10], C.decode_au),
        (b".snd" + b"\x00" * 20, C.decode_au),  # bad offset/encoding
        (good_u[:4] + (5).to_bytes(4, "big") + good_u[8:],
         C.decode_au),                     # data offset below header
    ):
        with _pytest.raises(ValueError):
            fn(payload)


def test_audio_header_meta_aiff_au():
    # the pluck fixtures are STEREO 11025 Hz, ~300 ms
    m = C.audio_header_meta(_audio("pcm16.aiff"))
    assert m["format"] == "aiff" and m["sample_rate"] == 11025
    assert m["channels"] == 2 and 295 <= m["duration_ms"] <= 305
    m = C.audio_header_meta(_audio("ulaw.au"))
    assert m["format"] == "au" and m["sample_rate"] == 11025
    assert m["channels"] == 2 and 295 <= m["duration_ms"] <= 305
    assert m["bitrate_kbps"] == 176  # 8-bit mu-law stereo at 11025


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
        ("pluck-pcm16.aiff", C.decode_aiff),
        ("pluck-ulaw.au", C.decode_au),
        ("pluck-pcm24.wav", C.decode_wav),
    ]
    rng = np.random.RandomState(11)
    for name, fn in cases:
        good = _imghdr(name.split(".")[-1]) if name.startswith(
            "cpython") else _audio(name.split("pluck-")[1])
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


def test_aiff_au_encoder_duals_round_trip():
    rng = np.random.RandomState(13)
    sig = np.clip(rng.randn(4000).astype(np.float32) * 0.3, -1, 1)
    want = ((np.clip(sig, -1, 1) * 32767).astype(np.int16)
            .astype(np.float32) / 32768.0)
    a, ra = C.decode_aiff(C.encode_aiff(sig, 8000))
    u, ru = C.decode_au(C.encode_au(sig, 8000))
    assert ra == ru == 8000
    np.testing.assert_allclose(a, want, atol=1.0 / 32768)
    np.testing.assert_allclose(u, want, atol=1.0 / 32768)
    # f80 sample-rate field round-trips exactly for integer rates
    for r in (8000, 11025, 16000, 22050, 44100, 48000, 96000, 1):
        assert C._read_f80(C._write_f80(r)) == r


def test_audio_review_fixes():
    # AU size=0 is an EMPTY clip, not unknown; trailing bytes after
    # the header must not decode as audio
    import struct as _struct
    empty = (b".snd" + _struct.pack(">5I", 24, 0, 3, 8000, 1)
             + b"trailing-metadata")
    x, rate = C.decode_au(empty)
    assert x.size == 0 and rate == 8000
    assert C.audio_header_meta(empty)["duration_ms"] == 0
    # AIFC G.711 stored bitrate uses 8 bits/sample even when COMM
    # records the decompressed width
    m = C.audio_header_meta(_audio("ulaw.aifc"))
    assert m["format"] == "aiff"
    assert m["bitrate_kbps"] == 11025 * 2 * 8 // 1000  # == AU branch
    mu = C.audio_header_meta(_audio("ulaw.au"))
    assert m["bitrate_kbps"] == mu["bitrate_kbps"]


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
