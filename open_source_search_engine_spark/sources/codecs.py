"""Media codecs from the Python stdlib — no Pillow/ffmpeg needed.

WAV is fully decodable with ``wave`` + numpy, PNG is zlib-deflate +
five per-row filters (implemented here from the PNG spec, RFC 2083
§6), and uncompressed BMP is a header parse. A pure-numpy JPEG codec
covers BASELINE (ITU-T T.81 sequential DCT: canonical Huffman,
Annex-K tables, batched 8×8 IDCT as two matrix products) and
PROGRESSIVE (SOF2, spectral selection + successive approximation,
Annex G), alongside GIF87a/89a (LZW), netpbm/XBM, Sun Raster, SGI,
TIFF, OpenEXR, AIFF/AU and an ISO-BMFF MP4 demuxer. WebP, MP4 and
WebM are parsed for header metadata only; their pixel decode
(VP8/VP8L, H.264) is not implemented.

Everything is numpy-vectorized where the format allows: PNG's Up
filter and all encoders are whole-row operations; Sub/Average/Paeth
unfiltering is inherently sequential per pixel along a row (each
pixel needs the reconstructed left neighbor) but vectorizes across
channels; rows stream in one pass.

All functions are pure bytes→array/array→bytes kernels; they never
touch Spark. No search path uses this module.
"""

from __future__ import annotations

import io
import re
import struct
import wave
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _corrupt_as_valueerror(fn):
    """Uniform decode contract: corrupt payloads surface as ValueError
    — never IndexError/KeyError/struct.error/zlib.error/wave.Error/
    EOFError. The Arrow kernels route per-row on ``except ValueError``
    (sample_frames' MP4/GIF branches, the 'fallback' codec tag); a
    truncated stream slipping out as struct.error would fail the whole
    batch instead of one row."""
    import functools

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except ValueError:
            raise
        except (
            IndexError, KeyError, struct.error, zlib.error,
            wave.Error, EOFError, OverflowError,
        ) as exc:
            raise ValueError(
                f"corrupt payload in {fn.__name__}: {exc!r}"
            ) from exc

    return wrapped

_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # PNG color type → samples/pixel
# PNG spec §2.3: bit depths allowed per color type
_PNG_DEPTHS = {
    0: (1, 2, 4, 8, 16),
    2: (8, 16),
    3: (1, 2, 4, 8),
    4: (8, 16),
    6: (8, 16),
}
# Adam7 interlace passes: (x_start, y_start, x_step, y_step) — PNG
# spec §8.2; each pass is an independently-filtered sub-image
_ADAM7 = [
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
]


def sniff(payload: bytes) -> str:
    """Magic-byte format sniff: 'png' | 'bmp' | 'gif' | 'wav' |
    'jpeg' | 'mp4' | 'webp' | 'ico' | 'webm' | 'pnm' | 'xbm' |
    audio containers | 'unknown'."""
    if payload[:8] == PNG_SIG:
        return "png"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        return "wav"
    if payload[:4] == b"FORM" and payload[8:12] in (b"AIFF", b"AIFC"):
        return "aiff"
    if payload[:4] == b".snd":
        return "au"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[:4] == b"fLaC":
        return "flac"
    if payload[:4] == b"OggS":
        return "ogg"
    if payload[:3] == b"ID3" or (
        # a bare 0xFF+sync prefix is too weak (b'\xff\xd8' — a
        # truncated JPEG — would sniff as mp3): also require a valid
        # bitrate index (not free/bad 0|15) and sample-rate index
        # (not reserved 3) in the frame header's third byte
        len(payload) >= 3
        and payload[0] == 0xFF
        and (payload[1] & 0xE0) == 0xE0
        and (payload[1] & 0x06) != 0  # layer bits 00 is reserved
        and (payload[2] >> 4) not in (0, 15)  # bitrate index
        and ((payload[2] >> 2) & 3) != 3  # sample-rate index
    ):
        return "mp3"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return "webp"
    if (
        payload[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00")
        and len(payload) >= 6
        and payload[4] | payload[5]  # at least one directory entry
    ):
        return "ico"
    if len(payload) >= 12 and payload[4:8] == b"ftyp":
        return "mp4"
    if payload[:4] == b"\x1a\x45\xdf\xa3":
        return "webm"  # EBML: WebM / Matroska
    if (len(payload) >= 3 and payload[0:1] == b"P"
            and payload[1] in b"123456" and payload[2:3].isspace()):
        return "pnm"  # netpbm P1-P6 (PBM/PGM/PPM, ascii + binary)
    if payload[:8] == b"#define ":
        return "xbm"  # X BitMap C source
    if payload[:4] == b"\x59\xa6\x6a\x95":
        return "ras"  # Sun Raster
    if payload[:2] == b"\x01\xda":
        return "sgi"
    if payload[:4] in (b"II*\x00", b"MM\x00*"):
        return "tiff"
    if payload[:4] == b"\x76\x2f\x31\x01":
        return "exr"
    return "unknown"


# --- PNG -------------------------------------------------------------------


def _png_unfilter(raw: bytes, off: int, h: int, stride: int, bpp: int):
    """Reverse the five per-scanline PNG filters over one (sub-)image
    of ``h`` scanlines × ``stride`` filtered bytes starting at byte
    ``off`` of the decompressed stream. Returns (rows, next_off) where
    rows is (h, stride) uint8. ``bpp`` is the filter's left-neighbor
    step in BYTES (max(1, channels*depth/8) per spec §9)."""
    need = off + h * (stride + 1)
    if len(raw) < need:
        raise ValueError("corrupt PNG: IDAT shorter than its scanlines")
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        row_start = off + y * (stride + 1)
        ftype = raw[row_start]
        row = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).copy()
        if ftype == 0:  # None
            cur = row
        elif ftype == 2:  # Up
            cur = row + prev  # uint8 wraps mod 256, per spec
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: sequential
            cur = row
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0  # left
                b = int(prev[x])  # up
                if ftype == 1:
                    pred = a
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    c = int(prev[x - bpp]) if x >= bpp else 0  # up-left
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if pa <= pb and pa <= pc else (
                        b if pb <= pc else c
                    )
                cur[x] = (int(cur[x]) + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {ftype}")
        out[y] = cur
        prev = out[y]
    return out, need


def _png_samples(rows: np.ndarray, n_samples: int, depth: int):
    """(h, stride) filtered-byte rows → (h, n_samples) RAW sample
    values (palette indices stay indices; no 8-bit scaling here).
    depth 16 keeps the most significant byte — the standard 8-bit
    reduction (spec §2.1: MSB first)."""
    if depth == 8:
        return rows[:, :n_samples]
    if depth == 16:
        return rows[:, : 2 * n_samples : 2]
    bits = np.unpackbits(rows, axis=1)  # MSB-first, matching the spec
    vals = bits.reshape(rows.shape[0], -1, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (vals * weights).sum(axis=2).astype(np.uint8)[:, :n_samples]


@_corrupt_as_valueerror
def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → uint8 array (h, w, channels). The full static-PNG
    matrix a web crawl actually serves: color types 0/2/3/4/6, bit
    depths 1/2/4/8/16 (16 reduced to 8 via the MSB), Adam7 interlace,
    palette via PLTE with optional tRNS alpha. Sub-8-bit grayscale
    scales by bit replication (spec §12.5); palette output is RGB, or
    RGBA when tRNS is present."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos, idat = 8, []
    w = h = ch = depth = color = inter = None
    plte = trns = None
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # len + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if (
                color not in _CHANNELS
                or depth not in _PNG_DEPTHS[color]
                or inter not in (0, 1)
            ):
                raise ValueError(
                    f"unsupported PNG (depth={depth}, color={color}, "
                    f"interlace={inter})"
                )
            ch = _CHANNELS[color]
        elif ctype == b"PLTE":
            if length % 3:
                raise ValueError("corrupt PNG: PLTE not a multiple of 3")
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS" and color == 3:
            trns = np.frombuffer(data, dtype=np.uint8)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("corrupt PNG: no IHDR")
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error as e:
        raise ValueError(f"corrupt PNG: IDAT inflate failed ({e})") from e
    img = _png_pixels(raw, w, h, ch, depth, inter)
    return _png_expand(img, color, depth, plte, trns)


def _png_pixels(raw, w, h, ch, depth, inter):
    """Decompressed-filtered bytes → (h, w, ch) RAW sample array
    (unfilter + bit-unpack + optional Adam7 reassembly). Shared by
    decode_png and the APNG frame decoder."""
    bpp = max(1, (ch * depth) // 8)

    def stride_of(width: int) -> int:
        return (width * ch * depth + 7) // 8

    if inter == 0:
        rows, _ = _png_unfilter(raw, 0, h, stride_of(w), bpp)
        return _png_samples(rows, w * ch, depth).reshape(h, w, ch)
    img = np.zeros((h, w, ch), dtype=np.uint8)  # Adam7: 7 sub-images
    off = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx
        ph = (h - y0 + dy - 1) // dy
        if pw <= 0 or ph <= 0:
            continue  # pass empty at this image size
        rows, off = _png_unfilter(raw, off, ph, stride_of(pw), bpp)
        sub = _png_samples(rows, pw * ch, depth).reshape(ph, pw, ch)
        img[y0::dy, x0::dx] = sub
    return img


def _png_expand(img, color, depth, plte, trns):
    """Raw samples → final uint8 array: palette expansion (PLTE +
    optional tRNS alpha) and sub-8-bit grayscale bit-replication."""
    if color == 3:
        if plte is None:
            raise ValueError("corrupt PNG: palette image without PLTE")
        idx = img[:, :, 0]
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise ValueError("corrupt PNG: palette index out of range")
        rgb = plte[idx]
        if trns is None:
            return rgb
        alpha = np.full(plte.shape[0], 255, dtype=np.uint8)
        alpha[: trns.size] = trns
        return np.concatenate([rgb, alpha[idx][:, :, None]], axis=2)
    if depth < 8:  # grayscale sub-8-bit: scale by bit replication
        return img * np.uint8(255 // ((1 << depth) - 1))
    return img


def _chunk(ctype: bytes, data: bytes) -> bytes:
    crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
    return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)


def _to_rgba(arr: np.ndarray) -> np.ndarray:
    """Any expanded PNG array (gray / gray+alpha / RGB / RGBA) →
    (h, w, 4) RGBA."""
    h, w, ch = arr.shape
    if ch == 4:
        return arr
    out = np.empty((h, w, 4), dtype=np.uint8)
    if ch == 1:
        out[:, :, :3] = arr
        out[:, :, 3] = 255
    elif ch == 2:
        out[:, :, :3] = arr[:, :, :1]
        out[:, :, 3] = arr[:, :, 1]
    else:  # RGB
        out[:, :, :3] = arr
        out[:, :, 3] = 255
    return out


@_corrupt_as_valueerror
def decode_apng_frames(payload: bytes) -> list:
    """[(ts_ms, (h, w, 4) RGBA)] for every frame of an APNG animation,
    composited per the APNG spec: blend_op 0 replaces the frame
    region, blend_op 1 alpha-composites OVER it; dispose_op 1 clears
    the region to transparent black, dispose_op 2 restores the
    previous canvas. Timestamps accumulate fcTL delays (delay_den 0
    reads as 100 per spec; a <20 ms effective delay clamps to 100 ms,
    the same renderer convention as the GIF path). Raises ValueError
    when the PNG carries no acTL (not an animation)."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    w = h = ch = depth = color = inter = None
    plte = trns = None
    n_frames = None
    frames = []  # [{fctl fields, 'data': [chunks]}]
    idat_is_frame = False
    while pos < len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, inter = struct.unpack(
                ">IIBBBBB", data
            )
            if (
                color not in _CHANNELS
                or depth not in _PNG_DEPTHS[color]
                or inter != 0
            ):
                raise ValueError(
                    "unsupported APNG (exotic depth/color or "
                    "interlaced frames)"
                )
            ch = _CHANNELS[color]
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"tRNS" and color == 3:
            trns = np.frombuffer(data, dtype=np.uint8)
        elif ctype == b"acTL":
            n_frames = struct.unpack(">I", data[:4])[0]
        elif ctype == b"fcTL":
            (_seq, fw, fh, fx, fy, dnum, dden, dop, bop) = struct.unpack(
                ">IIIIIHHBB", data[:26]
            )
            frames.append(
                {"w": fw, "h": fh, "x": fx, "y": fy, "dnum": dnum,
                 "dden": dden, "dispose": dop, "blend": bop, "data": []}
            )
            idat_is_frame = True  # an fcTL before IDAT claims it
        elif ctype == b"IDAT":
            if frames and idat_is_frame:
                frames[-1]["data"].append(data)
        elif ctype == b"fdAT":
            if not frames:
                raise ValueError("corrupt APNG: fdAT before any fcTL")
            frames[-1]["data"].append(data[4:])  # strip sequence no.
        elif ctype == b"IEND":
            break
    if w is None:
        raise ValueError("corrupt PNG: no IHDR")
    if n_frames is None:
        raise ValueError("not an APNG (no acTL)")
    if not frames:
        raise ValueError("corrupt APNG: acTL but no fcTL frames")

    canvas = np.zeros((h, w, 4), dtype=np.uint8)  # transparent black
    out, ts = [], 0
    for fr in frames:
        fw, fh, fx, fy = fr["w"], fr["h"], fr["x"], fr["y"]
        if fx + fw > w or fy + fh > h:
            raise ValueError("corrupt APNG: frame outside canvas")
        try:
            raw = zlib.decompress(b"".join(fr["data"]))
        except zlib.error as e:
            raise ValueError(
                f"corrupt APNG: frame inflate failed ({e})"
            ) from e
        img = _png_pixels(raw, fw, fh, ch, depth, 0)
        rgba = _to_rgba(_png_expand(img, color, depth, plte, trns))
        prev = canvas.copy() if fr["dispose"] == 2 else None
        region = canvas[fy : fy + fh, fx : fx + fw]
        if fr["blend"] == 0:  # source: replace
            region[:] = rgba
        else:  # over: alpha compositing
            sa = rgba[:, :, 3:4].astype(np.float64) / 255.0
            da = region[:, :, 3:4].astype(np.float64) / 255.0
            oa = sa + da * (1.0 - sa)
            safe = np.maximum(oa, 1e-9)
            rgb = (
                rgba[:, :, :3] * sa
                + region[:, :, :3] * da * (1.0 - sa)
            ) / safe
            region[:, :, :3] = np.clip(np.round(rgb), 0, 255)
            region[:, :, 3] = np.clip(
                np.round(oa[:, :, 0] * 255.0), 0, 255
            )
        out.append((ts, canvas.copy()))
        dden = fr["dden"] or 100  # spec: denominator 0 reads as 100
        delay = int(round(1000.0 * fr["dnum"] / dden))
        ts += delay if delay >= 20 else 100
        if fr["dispose"] == 1:
            canvas[fy : fy + fh, fx : fx + fw] = 0
        elif fr["dispose"] == 2 and prev is not None:
            canvas = prev
    return out


def encode_apng(
    frames,
    delays_ms=100,
    dispose=0,
    blend=0,
    rects=None,
) -> bytes:
    """Fixture dual: list of (h, w, 4) RGBA uint8 arrays → APNG
    (acTL + per-frame fcTL, frame 0 in IDAT, the rest in fdAT).
    ``delays_ms``/``dispose``/``blend`` are ints or per-frame lists;
    optional ``rects`` [(x, y)] place partial frames on a canvas
    sized by frame 0."""
    n = len(frames)
    if isinstance(delays_ms, int):
        delays_ms = [delays_ms] * n
    if isinstance(dispose, int):
        dispose = [dispose] * n
    if isinstance(blend, int):
        blend = [blend] * n
    rects = rects or [(0, 0)] * n
    h, w = frames[0].shape[:2]
    out = bytearray(PNG_SIG)
    out += _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 6, 0, 0, 0))
    out += _chunk(b"acTL", struct.pack(">II", n, 0))
    seq = 0
    for fi, fr in enumerate(frames):
        fh, fw = fr.shape[:2]
        fctl = struct.pack(
            ">IIIIIHHBB", seq, fw, fh, rects[fi][0], rects[fi][1],
            delays_ms[fi], 1000, dispose[fi], blend[fi],
        )
        out += _chunk(b"fcTL", fctl)
        seq += 1
        body = np.empty((fh, fw * 4 + 1), dtype=np.uint8)
        body[:, 0] = 0
        body[:, 1:] = fr.reshape(fh, fw * 4)
        z = zlib.compress(body.tobytes(), 6)
        if fi == 0:
            out += _chunk(b"IDAT", z)
        else:
            out += _chunk(b"fdAT", struct.pack(">I", seq) + z)
            seq += 1
    out += _chunk(b"IEND", b"")
    return bytes(out)


@_corrupt_as_valueerror
def png_animation_info(payload: bytes):
    """(n_frames, True) when the PNG carries an acTL chunk (APNG),
    else (1, False) — a chunk-header walk, no decompression."""
    if payload[:8] != PNG_SIG:
        raise ValueError("not a PNG")
    pos = 8
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        if ctype == b"acTL":
            return (
                struct.unpack(">I", payload[pos + 8 : pos + 12])[0],
                True,
            )
        if ctype in (b"IDAT", b"IEND"):
            break
        pos += 12 + length
    return 1, False


def encode_png(arr: np.ndarray) -> bytes:
    """uint8 (h, w) or (h, w, ch∈{1,2,3,4}) → PNG bytes (filter 0
    rows — simplicity over ratio; zlib does the heavy lifting)."""
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, ch = arr.shape
    color = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    body = np.empty((h, w * ch + 1), dtype=np.uint8)
    body[:, 0] = 0  # filter type None on every row
    body[:, 1:] = arr.reshape(h, w * ch)
    return (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(body.tobytes(), 6))
        + _chunk(b"IEND", b"")
    )


def _png_pack_rows(samples: np.ndarray, depth: int) -> np.ndarray:
    """(h, n_samples) raw sample values → (h, stride) scanline bytes
    at ``depth`` bits per sample (MSB-first packing, spec §7.2)."""
    if depth == 8:
        return samples.astype(np.uint8)
    if depth == 16:  # value in the MSB, 0 LSB (decoder keeps the MSB)
        h, n = samples.shape
        out = np.zeros((h, 2 * n), dtype=np.uint8)
        out[:, 0::2] = samples
        return out
    h, n = samples.shape
    bits = np.unpackbits(
        samples.astype(np.uint8)[:, :, None], axis=2
    )[:, :, 8 - depth :].reshape(h, n * depth)
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.concatenate(
            [bits, np.zeros((h, pad), dtype=np.uint8)], axis=1
        )
    return np.packbits(bits, axis=1)


def encode_png_ex(
    samples: np.ndarray,
    color: int,
    depth: int = 8,
    palette: np.ndarray | None = None,
    trns: np.ndarray | None = None,
    interlace: bool = False,
) -> bytes:
    """Fixture-encoder dual of the full ``decode_png`` matrix:
    ``samples`` is (h, w) for color types 0/3 or (h, w, ch) otherwise,
    holding RAW sample values (palette indices for type 3; for
    depth 16 the 8-bit value that lands in the MSB). Filter 0 on every
    scanline — the decoder's filter coverage is pinned separately by
    test_png_unfilters_all_filter_types."""
    if color in (0, 3):
        samples = samples.reshape(samples.shape[0], samples.shape[1], 1)
    h, w, ch = samples.shape
    if ch != _CHANNELS[color] or depth not in _PNG_DEPTHS[color]:
        raise ValueError("invalid color/depth/shape combination")

    def scanlines(sub: np.ndarray) -> bytes:
        ph, pw, _ = sub.shape
        packed = _png_pack_rows(sub.reshape(ph, pw * ch), depth)
        body = np.zeros((ph, packed.shape[1] + 1), dtype=np.uint8)
        body[:, 1:] = packed  # filter type 0 per row
        return body.tobytes()

    if not interlace:
        raw = scanlines(samples)
    else:
        parts = []
        for x0, y0, dx, dy in _ADAM7:
            sub = samples[y0::dy, x0::dx]
            if sub.shape[0] and sub.shape[1]:
                parts.append(scanlines(sub))
        raw = b"".join(parts)

    ihdr = struct.pack(
        ">IIBBBBB", w, h, depth, color, 0, 0, 1 if interlace else 0
    )
    out = PNG_SIG + _chunk(b"IHDR", ihdr)
    if color == 3:
        if palette is None:
            raise ValueError("palette image needs a palette")
        out += _chunk(b"PLTE", np.asarray(palette, np.uint8).tobytes())
        if trns is not None:
            out += _chunk(b"tRNS", np.asarray(trns, np.uint8).tobytes())
    return out + _chunk(b"IDAT", zlib.compress(raw, 6)) + _chunk(b"IEND", b"")


# --- BMP -------------------------------------------------------------------


def _mask_extract(px: np.ndarray, mask: int) -> np.ndarray:
    """Extract one BI_BITFIELDS channel: shift to LSB, scale sub-8-bit
    channels to 0..255 (e.g. 5-bit masks in 16/32-bpp variants)."""
    if mask == 0:
        return np.zeros(px.shape, dtype=np.uint8)
    shift = (mask & -mask).bit_length() - 1
    width = (mask >> shift).bit_length()
    v = (px >> np.uint32(shift)) & np.uint32((1 << width) - 1)
    if width == 8:
        return v.astype(np.uint8)
    # widen before scaling: v * 255 overflows uint32 for masks wider
    # than 24 bits (review fix)
    return ((v.astype(np.uint64) * 255)
            // ((1 << width) - 1)).astype(np.uint8)


@_corrupt_as_valueerror
def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP → uint8 (h, w, 3) RGB or (h, w, 4) RGBA. Handles the
    uncompressed 24-bit form (4-byte row padding, bottom-up and
    top-down) plus 32-bpp — both plain BGRX (comp 0) and
    BI_BITFIELDS/BI_ALPHABITFIELDS (comp 3/6) with arbitrary channel
    masks, the variant modern exporters write (the CPython test
    fixture python.bmp is exactly this: 32-bpp comp-3 with an alpha
    mask — golden-pinned in tests). An alpha channel that is present
    but all-zero is treated as opaque RGB (the classic exporter bug;
    matches how browsers render such files)."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    w, h = struct.unpack("<ii", payload[18:26])
    bpp, comp = struct.unpack("<HI", payload[28:34])
    top_down = h < 0
    h = abs(h)
    if bpp == 24 and comp == 0:
        stride = (w * 3 + 3) & ~3
        rows = np.frombuffer(
            payload, dtype=np.uint8, count=stride * h, offset=data_off
        ).reshape(h, stride)[:, : w * 3].reshape(h, w, 3)
        if not top_down:
            rows = rows[::-1]
        return rows[:, :, ::-1].copy()  # BGR → RGB
    if bpp in (16, 32) and comp in (0, 3, 6):
        if comp == 0:
            if bpp == 32:
                rm, gm, bm, am = 0x00FF0000, 0x0000FF00, 0x000000FF, 0
            else:  # default 16-bpp is RGB555
                rm, gm, bm, am = 0x7C00, 0x03E0, 0x001F, 0
        else:
            # masks live right after the 40-byte info header (comp 3:
            # RGB; comp 6 / header >= 56: + alpha) — same file offset
            # when they're fields of a V2+/V4/V5 header
            rm, gm, bm = struct.unpack("<III", payload[54:66])
            am = 0
            if comp == 6 or hdr_size >= 56:
                (am,) = struct.unpack("<I", payload[66:70])
        if bpp == 16:
            stride = (w * 2 + 3) & ~3  # rows still pad to 4 bytes
            rows16 = np.frombuffer(
                payload, dtype=np.uint8, count=stride * h,
                offset=data_off
            ).reshape(h, stride)[:, : w * 2]
            px = rows16.reshape(h, w, 2).view("<u2")[:, :, 0].astype(
                np.uint32)
        else:
            px = np.frombuffer(
                payload, dtype="<u4", count=w * h, offset=data_off
            ).reshape(h, w)
        if not top_down:
            px = px[::-1]
        r = _mask_extract(px, rm)
        g = _mask_extract(px, gm)
        b = _mask_extract(px, bm)
        if am:
            a = _mask_extract(px, am)
            if a.any():
                return np.stack([r, g, b, a], axis=-1)
        return np.stack([r, g, b], axis=-1)
    raise ValueError(f"unsupported BMP (bpp={bpp}, compression={comp})")


def encode_bmp(arr: np.ndarray) -> bytes:
    """uint8 (h, w, 3) RGB → 24-bit bottom-up BMP bytes."""
    h, w, _ = arr.shape
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, : w * 3] = arr[::-1, :, ::-1].reshape(h, w * 3)  # RGB→BGR
    data = rows.tobytes()
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(data), 0, 0, 54
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(data), 2835, 2835, 0, 0
    )
    return header + data


# --- netpbm (PBM/PGM/PPM, P1-P6) + XBM --------------------------------------


def _pnm_header(payload: bytes, n_fields: int):
    """Parse the netpbm header after the magic: ``n_fields``
    whitespace-separated decimal fields, with '#' comments running to
    end-of-line. Returns (fields, raster_offset) where raster_offset
    points one byte past the single whitespace that terminates the
    last field (the binary-raster rule)."""
    fields = []
    pos = 2
    n = len(payload)
    while len(fields) < n_fields:
        while pos < n and payload[pos:pos + 1].isspace():
            pos += 1
        if pos < n and payload[pos] == 0x23:  # '#'
            while pos < n and payload[pos] not in (0x0A, 0x0D):
                pos += 1
            continue
        start = pos
        while pos < n and payload[pos:pos + 1].isdigit():
            pos += 1
        if pos == start:
            raise ValueError("corrupt PNM: bad header field")
        fields.append(int(payload[start:pos]))
        if len(fields) == n_fields:
            if pos < n and payload[pos:pos + 1].isspace():
                pos += 1  # exactly one whitespace before the raster
            else:
                raise ValueError("corrupt PNM: missing raster "
                                 "separator")
    return fields, pos


def _pnm_ascii_values(payload: bytes, pos: int, count: int,
                      single_digit: bool = False) -> np.ndarray:
    # '#' comments run to END OF LINE, not just one token (review
    # fix); P1 pixels may be packed without whitespace ('1010'), so
    # bitmaps parse per CHARACTER (review fix)
    body = re.sub(rb"#[^\n\r]*", b"", payload[pos:])
    if single_digit:
        digits = re.findall(rb"[01]", body)
        if len(digits) < count:
            raise ValueError("corrupt PNM: truncated ASCII raster")
        return np.array([int(d) for d in digits[:count]],
                        dtype=np.int64)
    toks = [t for t in re.split(rb"\s+", body.strip()) if t]
    if len(toks) < count:
        raise ValueError("corrupt PNM: truncated ASCII raster")
    return np.array([int(t) for t in toks[:count]], dtype=np.int64)


@_corrupt_as_valueerror
def decode_pnm(payload: bytes) -> np.ndarray:
    """netpbm decode, all six types: P1/P4 bitmap (1 = black, per
    spec), P2/P5 graymap, P3/P6 pixmap; ASCII and binary rasters,
    '#' comments, maxval scaling (16-bit big-endian samples reduced
    to 8). Returns uint8 (h, w) for bitmaps/graymaps, (h, w, 3) for
    pixmaps. The CPython fixtures python.{pbm,pgm,ppm} are
    golden-pinned in tests."""
    kind = payload[1:2]
    if payload[:1] != b"P" or kind not in b"123456":
        raise ValueError("not a PNM")
    bitmap = kind in (b"1", b"4")
    channels = 3 if kind in (b"3", b"6") else 1
    n_fields = 2 if bitmap else 3
    fields, pos = _pnm_header(payload, n_fields)
    w, h = fields[0], fields[1]
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        raise ValueError("corrupt PNM: bad dimensions")
    maxval = 1 if bitmap else fields[2]
    if not bitmap and not 1 <= maxval <= 65535:
        raise ValueError("corrupt PNM: bad maxval")
    count = w * h * channels
    if kind == b"4":  # packed bits, MSB first, rows byte-padded
        stride = (w + 7) >> 3
        raw = np.frombuffer(payload, dtype=np.uint8,
                            count=stride * h, offset=pos)
        bits = np.unpackbits(raw.reshape(h, stride), axis=1)[:, :w]
        return np.where(bits == 1, 0, 255).astype(np.uint8)
    if kind in (b"5", b"6"):
        if maxval < 256:
            vals = np.frombuffer(payload, dtype=np.uint8, count=count,
                                 offset=pos).astype(np.int64)
        else:
            vals = np.frombuffer(payload, dtype=">u2", count=count,
                                 offset=pos).astype(np.int64)
    else:  # ASCII P1/P2/P3
        vals = _pnm_ascii_values(payload, pos - 1, count,
                                 single_digit=(kind == b"1"))
    if (vals < 0).any() or (vals > maxval).any():
        raise ValueError("corrupt PNM: sample exceeds maxval")
    if kind == b"1":
        out = np.where(vals == 1, 0, 255).astype(np.uint8)
        return out.reshape(h, w)
    scaled = ((vals * 255) // maxval).astype(np.uint8)
    if channels == 3:
        return scaled.reshape(h, w, 3)
    return scaled.reshape(h, w)


def encode_pnm(arr: np.ndarray) -> bytes:
    """Encoder dual: bool/bilevel (h, w) → P4, uint8 (h, w) → P5,
    uint8 (h, w, 3) → P6."""
    if arr.ndim == 2 and arr.dtype == np.bool_:
        h, w = arr.shape
        packed = np.packbits(arr.astype(np.uint8), axis=1)
        return b"P4\n%d %d\n" % (w, h) + packed.tobytes()
    if arr.ndim == 2:
        h, w = arr.shape
        return b"P5\n%d %d\n255\n" % (w, h) + arr.astype(
            np.uint8).tobytes()
    if arr.ndim == 3 and arr.shape[2] == 3:
        h, w = arr.shape[:2]
        return b"P6\n%d %d\n255\n" % (w, h) + arr.astype(
            np.uint8).tobytes()
    raise ValueError("encode_pnm expects (h,w) bool/uint8 or (h,w,3)")


@_corrupt_as_valueerror
def decode_xbm(payload: bytes) -> np.ndarray:
    """X BitMap (C-source) decode → uint8 (h, w), set bits (the
    foreground) as 0 and background as 255 to match the PBM
    convention. XBM packs bits LSB-FIRST within each byte, rows
    byte-padded — the opposite bit order from PBM."""
    text = payload.decode("ascii", errors="replace")
    mw = re.search(r"#define\s+\w*_?width\s+(\d+)", text)
    mh = re.search(r"#define\s+\w*_?height\s+(\d+)", text)
    if not mw or not mh:
        raise ValueError("corrupt XBM: missing width/height defines")
    w, h = int(mw.group(1)), int(mh.group(1))
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        raise ValueError("corrupt XBM: bad dimensions")
    body = re.search(r"\{(.*)\}", text, re.S)
    if not body:
        raise ValueError("corrupt XBM: missing bits array")
    vals = re.findall(r"0[xX][0-9a-fA-F]+|\d+", body.group(1))
    stride = (w + 7) >> 3
    need = stride * h
    if len(vals) < need:
        raise ValueError("corrupt XBM: truncated bits array")
    raw = np.array([int(v, 0) & 0xFF for v in vals[:need]],
                   dtype=np.uint8)
    bits = np.unpackbits(raw.reshape(h, stride), axis=1,
                         bitorder="little")[:, :w]
    return np.where(bits == 1, 0, 255).astype(np.uint8)


# --- Sun Raster / SGI / TIFF (classic web-crawl image fossils) --------------


@_corrupt_as_valueerror
def decode_ras(payload: bytes) -> np.ndarray:
    """Sun Raster decode → uint8 (h, w[, 3|4]). Handles depths
    8 (gray or colormapped), 24 and 32; types 0/1 (uncompressed,
    BGR order), 2 (byte-RLE, 0x80-escaped) and 3 (RT_FORMAT_RGB —
    RGB order). Scanlines pad to 16-bit boundaries per the format.
    The 32-bit pixel stores the pad/alpha byte FIRST (xBGR / xRGB).
    Golden-pinned against the CPython fixture (byte-identical to its
    PNG sibling's RGB)."""
    if len(payload) < 32:
        raise ValueError("corrupt RAS: short header")
    magic, w, h, depth, _length, rtype, maptype, maplen = struct.unpack(
        ">8i", payload[:32]
    )
    if magic != 0x59A66A95:
        raise ValueError("not a Sun Raster file")
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        raise ValueError("corrupt RAS: bad dimensions")
    if depth not in (8, 24, 32) or rtype not in (0, 1, 2, 3):
        raise ValueError(f"unsupported RAS (depth={depth}, "
                         f"type={rtype})")
    if maplen < 0 or maptype not in (0, 1, 2):
        # a negative maplen would walk the cursor BACKWARDS into the
        # header and silently decode header bytes as pixels
        # (review fix)
        raise ValueError("corrupt RAS: bad colormap header")
    pos = 32
    cmap = None
    if maptype == 1 and maplen:
        if maplen % 3:
            raise ValueError("corrupt RAS: bad colormap length")
        cmap = np.frombuffer(payload, np.uint8, maplen, pos)
        cmap = cmap.reshape(3, maplen // 3).T  # planes R,G,B
        pos += maplen
    elif maplen:
        pos += maplen
    bytes_pp = depth // 8
    stride = (w * bytes_pp + 1) & ~1  # pad rows to 16 bits
    need = stride * h
    if rtype == 2:  # byte-RLE: 0x80 0x00 -> literal 0x80;
        #              0x80 n v -> v repeated n+1; else literal
        out = bytearray()
        i = pos
        n = len(payload)
        while len(out) < need and i < n:
            b = payload[i]
            if b != 0x80:
                out.append(b)
                i += 1
            else:
                if i + 1 >= n:
                    raise ValueError("corrupt RAS: truncated RLE")
                cnt = payload[i + 1]
                if cnt == 0:
                    out.append(0x80)
                    i += 2
                else:
                    if i + 2 >= n:
                        raise ValueError("corrupt RAS: truncated RLE")
                    out.extend(payload[i + 2:i + 3] * (cnt + 1))
                    i += 3
        if len(out) < need:
            raise ValueError("corrupt RAS: RLE underrun")
        raw = np.frombuffer(bytes(out[:need]), np.uint8)
    else:
        if len(payload) < pos + need:
            raise ValueError("corrupt RAS: truncated raster")
        raw = np.frombuffer(payload, np.uint8, need, pos)
    rows = raw.reshape(h, stride)[:, : w * bytes_pp]
    if depth == 8:
        img = rows.reshape(h, w)
        if cmap is not None:
            return cmap[img.astype(np.int64)].astype(np.uint8)
        return img.copy()
    px = rows.reshape(h, w, bytes_pp)
    if bytes_pp == 4:
        px = px[:, :, 1:]  # pad/alpha byte first
    if rtype != 3:
        px = px[:, :, ::-1]  # BGR -> RGB
    return px.copy()


@_corrupt_as_valueerror
def decode_sgi(payload: bytes) -> np.ndarray:
    """SGI image (.sgi/.rgb) decode → uint8 (h, w[, channels]).
    Handles bpc=1, dimension 2/3, VERBATIM (storage 0) and RLE
    (storage 1: per-row/channel start+length tables at offset 512;
    count = byte & 0x7f, high bit picks literal-run vs repeat).
    Rows are stored bottom-up, channel-planar."""
    if len(payload) < 512 or struct.unpack(">h", payload[:2])[0] != 474:
        raise ValueError("not an SGI image")
    storage, bpc = payload[2], payload[3]
    dimension, w, h, zsize = struct.unpack(">4H", payload[4:12])
    if bpc != 1:
        raise ValueError("unsupported SGI: bpc != 1")
    if dimension == 2:
        zsize = 1
    if (w <= 0 or h <= 0 or not 1 <= zsize <= 4
            or w * h > 64_000_000):
        raise ValueError("corrupt SGI: bad dimensions")
    planes = np.zeros((zsize, h, w), dtype=np.uint8)
    if storage == 0:
        need = 512 + w * h * zsize
        if len(payload) < need:
            raise ValueError("corrupt SGI: truncated verbatim data")
        planes = np.frombuffer(
            payload, np.uint8, w * h * zsize, 512
        ).reshape(zsize, h, w).copy()
    elif storage == 1:
        ntab = h * zsize
        starts = np.frombuffer(payload, ">u4", ntab, 512)
        lengths = np.frombuffer(payload, ">u4", ntab, 512 + 4 * ntab)
        for z in range(zsize):
            for y in range(h):
                i = int(starts[z * h + y])
                end = i + int(lengths[z * h + y])
                if end > len(payload):
                    raise ValueError("corrupt SGI: RLE row out of "
                                     "bounds")
                row = bytearray()
                while i < end:
                    b = payload[i]
                    i += 1
                    cnt = b & 0x7F
                    if cnt == 0:
                        break
                    if b & 0x80:  # literal run
                        if i + cnt > end:
                            raise ValueError("corrupt SGI: RLE "
                                             "overrun")
                        row.extend(payload[i:i + cnt])
                        i += cnt
                    else:  # repeat next byte
                        if i >= end:
                            raise ValueError("corrupt SGI: RLE "
                                             "overrun")
                        row.extend(payload[i:i + 1] * cnt)
                        i += 1
                if len(row) < w:
                    raise ValueError("corrupt SGI: short RLE row")
                planes[z, y] = np.frombuffer(
                    bytes(row[:w]), np.uint8
                )
    else:
        raise ValueError(f"unsupported SGI storage {storage}")
    planes = planes[:, ::-1]  # bottom-up
    if zsize == 1:
        return planes[0]
    return np.transpose(planes, (1, 2, 0))


def _tiff_ifd_values(data, entry_off, le):
    """One IFD entry -> (tag, [values]) for the integer types used by
    baseline TIFF."""
    e = "<" if le else ">"
    tag, typ, cnt = struct.unpack(e + "HHI", data[entry_off:entry_off + 8])
    sizes = {1: 1, 3: 2, 4: 4}
    if typ not in sizes:
        return tag, None
    total = sizes[typ] * cnt
    if total <= 4:
        raw = data[entry_off + 8:entry_off + 8 + total]
    else:
        (off,) = struct.unpack(e + "I", data[entry_off + 8:entry_off + 12])
        raw = data[off:off + total]
    if len(raw) < total:
        raise ValueError("corrupt TIFF: IFD value out of bounds")
    fmt = {1: "B", 3: "H", 4: "I"}[typ]
    return tag, list(struct.unpack(e + fmt * cnt, raw))


def _packbits(src: bytes, need: int) -> bytes:
    """Apple PackBits decode (TIFF compression 32773)."""
    out = bytearray()
    i = 0
    n = len(src)
    while len(out) < need and i < n:
        b = src[i]
        i += 1
        if b < 128:
            if i + b + 1 > n:
                raise ValueError("corrupt PackBits: literal overrun")
            out.extend(src[i:i + b + 1])
            i += b + 1
        elif b > 128:
            if i >= n:
                raise ValueError("corrupt PackBits: repeat overrun")
            out.extend(src[i:i + 1] * (257 - b))
            i += 1
        # 128 = no-op
    if len(out) < need:
        raise ValueError("corrupt PackBits: underrun")
    return bytes(out[:need])


@_corrupt_as_valueerror
def decode_tiff(payload: bytes) -> np.ndarray:
    """Baseline TIFF decode → uint8 array: classic II/MM headers,
    first IFD, 8-bit samples, chunky planar config, strip layout,
    compression 1 (none) and 32773 (PackBits); photometric 0/1
    (grayscale, 0 inverted), 2 (RGB/RGBA incl. extra-sample alpha)
    and 3 (palette via the 16-bit ColorMap). LZW-in-TIFF is
    deliberately NOT implemented: its 'early change' code-width rule
    has a classic off-by-one that only a real LZW TIFF could pin, and
    the sandbox has neither a fixture nor a writer — a dual-validated
    guess would round-trip yet still misread real files. JPEG-in-TIFF/tiled likewise raise ValueError; slot
    libtiff in for them."""
    if payload[:4] == b"II*\x00":
        le = True
    elif payload[:4] == b"MM\x00*":
        le = False
    else:
        raise ValueError("not a TIFF")
    e = "<" if le else ">"
    (ifd_off,) = struct.unpack(e + "I", payload[4:8])
    if ifd_off + 2 > len(payload):
        raise ValueError("corrupt TIFF: bad IFD offset")
    (n_entries,) = struct.unpack(e + "H", payload[ifd_off:ifd_off + 2])
    tags = {}
    for i in range(n_entries):
        tag, vals = _tiff_ifd_values(payload, ifd_off + 2 + 12 * i, le)
        if vals is not None:
            tags[tag] = vals
    try:
        w = tags[256][0]
        h = tags[257][0]
        offs = tags[273]
        counts = tags[279]
    except KeyError as exc:
        raise ValueError(f"corrupt TIFF: missing tag {exc}") from exc
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        raise ValueError("corrupt TIFF: bad dimensions")
    comp = tags.get(259, [1])[0]
    photo = tags.get(262, [1])[0]
    if photo not in (0, 1, 2, 3):
        # CMYK (5) / YCbCr (6) etc. must NOT be silently served as
        # RGB-shaped garbage (review fix)
        raise ValueError(f"unsupported TIFF photometric {photo}")
    spp = tags.get(277, [1])[0]
    bps = tags.get(258, [8])
    rps = tags.get(278, [h])[0] or h
    planar = tags.get(284, [1])[0]
    if planar != 1:
        raise ValueError("unsupported TIFF: planar configuration")
    if any(b != 8 for b in bps[:spp]) or not 1 <= spp <= 4:
        raise ValueError("unsupported TIFF: need 8-bit samples")
    if comp not in (1, 32773):
        raise ValueError(f"unsupported TIFF compression {comp}")
    row_bytes = w * spp
    data = bytearray()
    row = 0
    for off, cnt in zip(offs, counts):
        strip_rows = min(rps, h - row)
        need = strip_rows * row_bytes
        src = payload[off:off + cnt]
        if len(src) < cnt:
            raise ValueError("corrupt TIFF: strip out of bounds")
        data.extend(src[:need] if comp == 1 else _packbits(src, need))
        row += strip_rows
    if len(data) < h * row_bytes:
        raise ValueError("corrupt TIFF: strips shorter than image")
    img = np.frombuffer(
        bytes(data[: h * row_bytes]), np.uint8
    ).reshape(h, w, spp)
    if photo == 3:
        cmap = tags.get(320)
        if not cmap or len(cmap) < 3 * 256:
            raise ValueError("corrupt TIFF: palette without ColorMap")
        cm = (np.array(cmap[: 3 * (1 << 8)], dtype=np.uint32)
              .reshape(3, -1).T >> 8).astype(np.uint8)
        return cm[img[:, :, 0].astype(np.int64)]
    if photo == 0:  # WhiteIsZero
        img = 255 - img
    if spp == 1:
        return img[:, :, 0].copy()
    return img.copy()


# --- OpenEXR (HDR scanline images) ------------------------------------------


def _exr_zip_reconstruct(data: bytes) -> bytes:
    """OpenEXR ZIP post-inflate reconstruction (ImfZip spec): undo the
    byte delta (d[i] += d[i-1] - 128) then de-interleave the two
    halves back to alternating positions."""
    t = np.frombuffer(data, np.uint8).astype(np.int64)
    t[1:] -= 128
    b = (np.cumsum(t) & 0xFF).astype(np.uint8)
    half = (b.size + 1) // 2
    out = np.empty(b.size, np.uint8)
    out[0::2] = b[:half]
    out[1::2] = b[half:]
    return out.tobytes()


def _exr_zip_forward(data: bytes) -> bytes:
    """Encoder dual of _exr_zip_reconstruct (interleave-split +
    byte delta)."""
    arr = np.frombuffer(data, np.uint8)
    half = (arr.size + 1) // 2
    split = np.empty(arr.size, np.uint8)
    split[:half] = arr[0::2]
    split[half:] = arr[1::2]
    out = split.astype(np.int64)
    out[1:] = out[1:] - split[:-1].astype(np.int64) + 128
    return (out & 0xFF).astype(np.uint8).tobytes()


_EXR_PT_SIZE = {0: 4, 1: 2, 2: 4}  # UINT, HALF, FLOAT
_EXR_PT_DTYPE = {0: "<u4", 1: "<f2", 2: "<f4"}


@_corrupt_as_valueerror
def decode_exr(payload: bytes) -> np.ndarray:
    """OpenEXR scanline decode → float32 (h, w, channels), channels
    in R,G,B,A order where those names exist (others appended
    alphabetically). Handles HALF/FLOAT/UINT channels, compression
    NONE (the CPython fixture — golden-pinned), ZIPS (1 line/block)
    and ZIP (16 lines/block) via zlib + the documented
    delta+interleave reconstruction; increasing-Y line order; no
    tiles/deep data (slot OpenEXR in for those). HDR values pass
    through unclamped."""
    if payload[:4] != b"\x76\x2f\x31\x01":
        raise ValueError("not an EXR")
    # version 2 scanline only: reject tiled (0x02), deep data (0x08)
    # and multipart (0x10) flags — their layouts diverge right after
    # the header and would misparse as garbage blocks (review fix)
    if payload[4] != 2 or payload[5] & 0x1A:
        raise ValueError("unsupported EXR version/layout flags")
    pos = 8
    n = len(payload)
    channels = []
    comp = None
    xmin = ymin = xmax = ymax = None

    def cstr(p):
        e = payload.index(b"\x00", p)
        return payload[p:e].decode("latin-1"), e + 1

    while pos < n and payload[pos] != 0:
        name, pos = cstr(pos)
        typ, pos = cstr(pos)
        (sz,) = struct.unpack("<I", payload[pos:pos + 4])
        pos += 4
        val = payload[pos:pos + sz]
        pos += sz
        if name == "channels":
            cp = 0
            while cp < len(val) and val[cp] != 0:
                cname = val[cp:val.index(b"\x00", cp)].decode("latin-1")
                cp = val.index(b"\x00", cp) + 1
                ptype, _flags, xs, ys = struct.unpack(
                    "<IIII", val[cp:cp + 16]
                )
                cp += 16
                if xs != 1 or ys != 1:
                    raise ValueError("unsupported EXR: subsampled "
                                     "channel")
                if ptype not in _EXR_PT_SIZE:
                    raise ValueError("corrupt EXR: bad pixel type")
                channels.append((cname, ptype))
        elif name == "compression":
            comp = val[0]
        elif name == "dataWindow":
            xmin, ymin, xmax, ymax = struct.unpack("<4i", val)
        elif name == "lineOrder" and val[0] != 0:
            raise ValueError("unsupported EXR: non-increasing-Y order")
    pos += 1  # header terminator
    if comp is None or xmin is None or not channels:
        raise ValueError("corrupt EXR: missing required attributes")
    if comp not in (0, 2, 3):  # NONE, ZIPS, ZIP
        raise ValueError(f"unsupported EXR compression {comp}")
    w = xmax - xmin + 1
    h = ymax - ymin + 1
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        raise ValueError("corrupt EXR: bad data window")
    lines_per = 16 if comp == 3 else 1
    n_blocks = (h + lines_per - 1) // lines_per
    pos += 8 * n_blocks  # scanline offset table (trust block order)
    # channels are stored per scanline sorted by name
    ch_sorted = sorted(channels)
    row_bytes = sum(w * _EXR_PT_SIZE[pt] for _, pt in ch_sorted)
    planes = {c: np.zeros((h, w), np.float32) for c, _ in channels}
    for _ in range(n_blocks):
        if pos + 8 > n:
            raise ValueError("corrupt EXR: truncated block header")
        y, dsize = struct.unpack("<ii", payload[pos:pos + 8])
        pos += 8
        y -= ymin
        rows = min(lines_per, h - y)
        if y < 0 or rows <= 0 or pos + dsize > n:
            raise ValueError("corrupt EXR: block out of range")
        raw = payload[pos:pos + dsize]
        pos += dsize
        need = row_bytes * rows
        if comp != 0 and dsize < need:
            raw = _exr_zip_reconstruct(zlib.decompress(raw))
        if len(raw) < need:
            raise ValueError("corrupt EXR: short scanline block")
        off = 0
        for r in range(rows):
            for cname, pt in ch_sorted:
                cnt = w * _EXR_PT_SIZE[pt]
                vals = np.frombuffer(
                    raw, dtype=_EXR_PT_DTYPE[pt], count=w, offset=off
                )
                planes[cname][y + r] = vals.astype(np.float32)
                off += cnt
    order = [c for c in ("R", "G", "B", "A") if c in planes]
    order += sorted(c for c in planes if c not in order)
    return np.stack([planes[c] for c in order], axis=-1)


def encode_exr(arr: np.ndarray, compression: str = "none") -> bytes:
    """Encoder dual for decode_exr: float32 (h, w, 1|3|4) → scanline
    EXR with HALF channels (Y / RGB / RGBA), compression 'none',
    'zips' or 'zip'."""
    if arr.ndim != 3 or arr.shape[2] not in (1, 3, 4):
        raise ValueError("encode_exr expects (h, w, 1|3|4) float")
    h, w, nc = arr.shape
    names = {1: ["Y"], 3: ["R", "G", "B"], 4: ["R", "G", "B", "A"]}[nc]
    comp_id = {"none": 0, "zips": 2, "zip": 3}[compression]
    lines_per = {0: 1, 2: 1, 3: 16}[comp_id]

    def attr(name, typ, val):
        return (name.encode() + b"\x00" + typ.encode() + b"\x00"
                + struct.pack("<I", len(val)) + val)

    chlist = b""
    for cname in sorted(names):
        chlist += cname.encode() + b"\x00" + struct.pack(
            "<IIII", 1, 0, 1, 1
        )
    chlist += b"\x00"
    box = struct.pack("<4i", 0, 0, w - 1, h - 1)
    header = (
        b"\x76\x2f\x31\x01\x02\x00\x00\x00"
        + attr("channels", "chlist", chlist)
        + attr("compression", "compression", bytes([comp_id]))
        + attr("dataWindow", "box2i", box)
        + attr("displayWindow", "box2i", box)
        + attr("lineOrder", "lineOrder", b"\x00")
        + attr("pixelAspectRatio", "float", struct.pack("<f", 1.0))
        + attr("screenWindowCenter", "v2f", struct.pack("<ff", 0, 0))
        + attr("screenWindowWidth", "float", struct.pack("<f", 1.0))
        + b"\x00"
    )
    order = {c: i for i, c in enumerate(names)}
    blocks = []
    for y0 in range(0, h, lines_per):
        rows = min(lines_per, h - y0)
        raw = b"".join(
            arr[y0 + r, :, order[c]].astype("<f2").tobytes()
            for r in range(rows)
            for c in sorted(names)
        )
        if comp_id != 0:
            z = zlib.compress(_exr_zip_forward(raw))
            if len(z) >= len(raw):
                z = raw  # per spec: keep uncompressed when bigger
            raw = z
        blocks.append(struct.pack("<ii", y0, len(raw)) + raw)
    n_blocks = len(blocks)
    table_off = len(header) + 8 * n_blocks
    offsets = []
    acc = table_off
    for b in blocks:
        offsets.append(acc)
        acc += len(b)
    return (header
            + b"".join(struct.pack("<Q", o) for o in offsets)
            + b"".join(blocks))


# --- ICO (favicons: ICONDIR of PNG or DIB entries) --------------------------


def _ico_entries(payload: bytes) -> list:
    """[(width, height, bpp, offset, size)] from the ICONDIR; width/
    height bytes of 0 mean 256 per the format."""
    reserved, ftype, count = struct.unpack("<HHH", payload[:6])
    if reserved != 0 or ftype not in (1, 2) or count == 0:
        raise ValueError("corrupt ICO: bad ICONDIR")
    out = []
    for i in range(count):
        e = payload[6 + 16 * i : 22 + 16 * i]
        if len(e) < 16:
            raise ValueError("corrupt ICO: truncated ICONDIRENTRY")
        w, h, _colors, _res, _planes, bpp, size, off = struct.unpack(
            "<BBBBHHII", e
        )
        out.append((w or 256, h or 256, bpp, off, size))
    return out


@_corrupt_as_valueerror
def decode_ico(payload: bytes) -> np.ndarray:
    """ICO bytes → uint8 (h, w, 4) RGBA of the LARGEST entry (the
    favicon pipeline convention). Entries are either embedded PNGs
    (decoded through the full PNG path) or DIBs — BITMAPINFOHEADER
    with doubled height covering the XOR image + 1-bit AND mask;
    32-bit BGRA uses its alpha channel, 24-bit BGR takes alpha from
    the AND mask. Other DIB depths raise ValueError (disclosed — the
    palette-DIB tail of a 1990s format)."""
    entries = _ico_entries(payload)
    w, h, _bpp, off, size = max(
        entries, key=lambda e: (e[0] * e[1], e[2])
    )
    data = payload[off : off + size]
    if len(data) < size:
        raise ValueError("corrupt ICO: entry outside the file")
    if data[:8] == PNG_SIG:
        arr = decode_png(data)
        if arr.ndim == 2:
            arr = arr[:, :, None]
        return _to_rgba(arr)
    (bisize, biw, bih, planes, bpp) = struct.unpack(
        "<IiiHH", data[:16]
    )
    if bisize != 40:
        raise ValueError("corrupt ICO: DIB header not BITMAPINFOHEADER")
    ih = abs(bih) // 2  # doubled: XOR image + AND mask
    if biw != w or ih != h:
        # some encoders leave the directory dims stale; trust the DIB
        w, h = biw, ih
    if w <= 0 or h <= 0:
        raise ValueError("corrupt ICO: bad DIB dimensions")
    if bpp not in (24, 32):
        raise ValueError(f"unsupported ICO DIB depth {bpp}")
    px_off = 40
    stride = (w * (bpp // 8) + 3) & ~3
    px = np.frombuffer(
        data, np.uint8, count=stride * h, offset=px_off
    ).reshape(h, stride)[::-1]  # bottom-up
    out = np.empty((h, w, 4), dtype=np.uint8)
    if bpp == 32:
        bgra = px[:, : w * 4].reshape(h, w, 4)
        out[:, :, 0] = bgra[:, :, 2]
        out[:, :, 1] = bgra[:, :, 1]
        out[:, :, 2] = bgra[:, :, 0]
        out[:, :, 3] = bgra[:, :, 3]
        if not bgra[:, :, 3].any():
            # legacy 32-bpp icons (pre-XP tools) zero the alpha plane
            # and carry transparency only in the AND mask — Windows
            # and Pillow fall back to the mask then; without this the
            # whole icon decodes fully transparent (review fix)
            out[:, :, 3] = _ico_and_mask_alpha(
                data, px_off + stride * h, w, h
            )
        return out
    bgr = px[:, : w * 3].reshape(h, w, 3)
    out[:, :, 0] = bgr[:, :, 2]
    out[:, :, 1] = bgr[:, :, 1]
    out[:, :, 2] = bgr[:, :, 0]
    out[:, :, 3] = _ico_and_mask_alpha(data, px_off + stride * h, w, h)
    return out


def _ico_and_mask_alpha(data: bytes, off: int, w: int, h: int):
    """(h, w) alpha from the ICO AND mask: 1 bit/pixel rows padded to
    32 bits, bottom-up, mask bit 1 = transparent."""
    mstride = ((w + 31) // 32) * 4
    if off + mstride * h > len(data):
        # mask omitted (some writers drop it for 32-bpp entries):
        # everything opaque
        return np.full((h, w), 255, dtype=np.uint8)
    mask = np.frombuffer(
        data, np.uint8, count=mstride * h, offset=off
    ).reshape(h, mstride)[::-1]
    bits = np.unpackbits(mask, axis=1)[:, :w]
    return np.where(bits == 1, 0, 255).astype(np.uint8)


def encode_ico(images, bpp: int = 32) -> bytes:
    """Fixture dual: list of (h, w, 4) RGBA arrays → ICO with 32-bit
    BGRA DIB entries (bpp=32) or 24-bit BGR + AND-mask entries
    (bpp=24, alpha thresholded at 128)."""
    if isinstance(images, np.ndarray):
        images = [images]
    entries, blobs = [], []
    off = 6 + 16 * len(images)
    for arr in images:
        h, w = arr.shape[:2]
        if bpp == 32:
            stride = (w * 4 + 3) & ~3
            px = np.zeros((h, stride), dtype=np.uint8)
            bgra = arr[:, :, [2, 1, 0, 3]]
            px[:, : w * 4] = bgra.reshape(h, w * 4)
            body = px[::-1].tobytes()
            mstride = ((w + 31) // 32) * 4
            body += bytes(mstride * h)  # empty AND mask
        else:
            stride = (w * 3 + 3) & ~3
            px = np.zeros((h, stride), dtype=np.uint8)
            px[:, : w * 3] = arr[:, :, [2, 1, 0]].reshape(h, w * 3)
            mstride = ((w + 31) // 32) * 4
            bits = (arr[:, :, 3] < 128).astype(np.uint8)
            pad = mstride * 8 - w
            bits = np.pad(bits, ((0, 0), (0, pad)))
            mask = np.packbits(bits, axis=1)
            body = px[::-1].tobytes() + mask[::-1].tobytes()
        dib = struct.pack(
            "<IiiHHIIiiII", 40, w, 2 * h, 1, bpp, 0, len(body),
            0, 0, 0, 0,
        ) + body
        entries.append(struct.pack(
            "<BBBBHHII", w % 256, h % 256, 0, 0, 1, bpp, len(dib), off,
        ))
        blobs.append(dib)
        off += len(dib)
    return (
        struct.pack("<HHH", 0, 1, len(images))
        + b"".join(entries) + b"".join(blobs)
    )


# --- GIF -------------------------------------------------------------------
#
# GIF87a/89a static decode (first frame) + fixture-encoder dual. The
# format is a global/local palette, an LSB-first variable-width LZW
# stream in ≤255-byte sub-blocks, 4-pass row interlacing, and a GIF89a
# Graphic Control Extension carrying a transparent palette index.
# Animations decode to their first frame; gif_frame_count exposes the
# frame count as metadata without decoding pixel data.

_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))  # (row_start, step)


def _gif_interlace_order(h: int) -> list:
    return [y for s, d in _GIF_INTERLACE for y in range(s, h, d)]


def _lzw_decode(data: bytes, mcs: int, n_pixels: int) -> bytes:
    """GIF variable-width LZW → pixel indices. Canonical decoder rule:
    code width grows when the table reaches 2^width (cap 12 bits,
    deferred-clear past 4095 per the spec's conventions)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    table: list[bytes] = []
    code_size = next_code = prev = None

    def reset():
        nonlocal table, code_size, next_code, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        code_size, next_code, prev = mcs + 1, eoi + 1, None

    reset()
    acc = nbits = pos = 0
    while len(out) < n_pixels:
        while nbits < code_size:
            if pos >= len(data):
                raise ValueError("corrupt GIF: LZW stream truncated")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            reset()
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= len(table) or not table[code]:
                raise ValueError("corrupt GIF: bad initial LZW code")
            out += table[code]
            prev = code
            continue
        if code < next_code:
            entry = table[code]
        elif code == next_code:
            entry = table[prev] + table[prev][:1]
        else:
            raise ValueError("corrupt GIF: LZW code beyond table")
        out += entry
        if next_code < 4096:
            table.append(table[prev] + entry[:1])
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = code
    if len(out) < n_pixels:
        raise ValueError("corrupt GIF: LZW output shorter than image")
    return bytes(out[:n_pixels])


def _lzw_encode(data: bytes, mcs: int) -> bytes:
    """Dual of ``_lzw_decode``: emits the clear code first, grows the
    code width one add AFTER the decoder's 2^width threshold (the
    encoder's table leads by one entry at equal stream positions), and
    resets with a clear code when the table would pass 4096."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, size: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {bytes([i]): i for i in range(clear)}
    code_size, next_code = mcs + 1, eoi + 1
    emit(clear, code_size)
    w = b""
    for byte in data:
        wc = w + bytes([byte])
        if wc in table:
            w = wc
            continue
        emit(table[w], code_size)
        table[wc] = next_code
        next_code += 1
        if next_code == (1 << code_size) + 1 and code_size < 12:
            code_size += 1
        if next_code == 4096:
            emit(clear, code_size)
            table = {bytes([i]): i for i in range(clear)}
            code_size, next_code = mcs + 1, eoi + 1
        w = bytes([byte])
    if w:
        emit(table[w], code_size)
    emit(eoi, code_size)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _gif_subblocks(buf: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks starting at ``pos``; returns
    (data, position after the 0x00 terminator)."""
    parts = []
    while True:
        if pos >= len(buf):
            raise ValueError("corrupt GIF: unterminated sub-blocks")
        n = buf[pos]
        pos += 1
        if n == 0:
            return b"".join(parts), pos
        parts.append(buf[pos : pos + n])
        if len(parts[-1]) < n:
            raise ValueError("corrupt GIF: truncated sub-block")
        pos += n


def _gif_image_block(payload: bytes, pos: int, gct):
    """Parse one image descriptor starting just after its 0x2C byte:
    descriptor fields, optional local color table (truncation-checked),
    LZW min code size validation, sub-block concat, LZW decode,
    deinterlace, palette-bounds check. Returns
    (idx (ih, iw), pal, left, top, next_pos) — the single copy both
    decode_gif and decode_gif_frames render from (review fix: this
    logic existed in triplicate and the copies had begun to diverge
    on local-table truncation checking)."""
    left, top, iw, ih, ipk = struct.unpack(
        "<HHHHB", payload[pos : pos + 9]
    )
    pos += 9
    pal = gct
    if ipk & 0x80:
        n = 2 << (ipk & 7)
        pal = np.frombuffer(payload[pos : pos + 3 * n], np.uint8)
        if pal.size < 3 * n:
            raise ValueError("corrupt GIF: truncated local color table")
        pal = pal.reshape(-1, 3)
        pos += 3 * n
    if pal is None:
        raise ValueError("corrupt GIF: image without a color table")
    mcs = payload[pos]
    pos += 1
    if not 2 <= mcs <= 11:
        raise ValueError(f"corrupt GIF: LZW min code size {mcs}")
    data, pos = _gif_subblocks(payload, pos)
    idx = np.frombuffer(
        _lzw_decode(data, mcs, iw * ih), np.uint8
    ).reshape(ih, iw)
    if ipk & 0x40:  # interlaced: rows arrive in 4-pass order
        deinter = np.empty_like(idx)
        deinter[_gif_interlace_order(ih)] = idx
        idx = deinter
    if int(idx.max(initial=0)) >= pal.shape[0]:
        raise ValueError("corrupt GIF: palette index out of range")
    return idx, pal, left, top, pos


@_corrupt_as_valueerror
def decode_gif(payload: bytes) -> np.ndarray:
    """GIF bytes → uint8 (h, w, 3) RGB — or (h, w, 4) RGBA when the
    first frame's Graphic Control Extension declares a transparent
    index. Animations decode to the first frame composed onto the
    logical-screen canvas (background = the header's background-color
    index, like decode_gif_frames)."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, packed, bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(payload[pos : pos + 3 * n], np.uint8)
        if gct.size < 3 * n:
            raise ValueError("corrupt GIF: truncated color table")
        gct = gct.reshape(-1, 3)
        pos += 3 * n
    transp = None
    while pos < len(payload):
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:  # trailer
            break
        if b0 == 0x21:  # extension
            label = payload[pos]
            pos += 1
            data, pos = _gif_subblocks(payload, pos)
            if label == 0xF9 and len(data) >= 4 and data[0] & 1:
                transp = data[3]
            continue
        if b0 != 0x2C:
            raise ValueError(f"corrupt GIF: unknown block 0x{b0:02x}")
        idx, pal, left, top, pos = _gif_image_block(payload, pos, gct)
        # the spec defines the background-color index against the
        # GLOBAL color table; resolving it via a frame-local palette
        # painted the wrong background (round-4 ADVICE). Compose in
        # RGB: background from gct (black when absent/out-of-range,
        # matching decode_gif_frames' bg_rgb), frame pixels via the
        # frame's own palette.
        bg_rgb = (
            gct[bg] if gct is not None and bg < gct.shape[0]
            else np.zeros(3, np.uint8)
        )
        rgb = np.broadcast_to(bg_rgb, (h, w, 3)).astype(np.uint8).copy()
        clipped = idx[: max(0, h - top), : max(0, w - left)]
        rgb[top : top + clipped.shape[0], left : left + clipped.shape[1]] = (
            pal[clipped]
        )
        if transp is None:
            return rgb
        # transparency: frame pixels carrying the transparent index
        # are clear; the uncovered background is clear iff the
        # background COLOR is the transparent color. bg indexes the
        # GLOBAL table, the GCE transparent index the frame's ACTIVE
        # palette — two different index spaces when a local palette is
        # present — so the comparison is by resolved RGB, not by index
        # collision (review fix: index equality both false-cleared and
        # false-kept backgrounds under local palettes)
        ic = np.full((h, w), -1, dtype=np.int16)
        ic[top : top + clipped.shape[0], left : left + clipped.shape[1]] = (
            clipped.astype(np.int16)
        )
        bg_clear = (
            gct is not None
            and bg < gct.shape[0]
            and int(transp) < pal.shape[0]
            and bool((gct[bg] == pal[int(transp)]).all())
        )
        alpha = np.where(
            (ic == int(transp)) | ((ic == -1) & bg_clear), 0, 255
        ).astype(np.uint8)
        return np.concatenate([rgb, alpha[:, :, None]], axis=2)
    raise ValueError("corrupt GIF: no image descriptor")


@_corrupt_as_valueerror
def decode_gif_frames(payload: bytes) -> list:
    """[(ts_ms, (h, w, 3) uint8 RGB)] for EVERY frame of a (possibly
    animated) GIF, composited with GIF89a semantics: transparent
    pixels leave the prior canvas showing through, disposal 2 restores
    the frame rectangle to the background color, disposal 3 restores
    the previous canvas. ``ts_ms`` is the cumulative presentation time
    from the Graphic Control delays (1/100 s units). The video-side
    dual of ``demux_mp4`` for the web's other animation container."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    w, h, packed, bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(payload[pos : pos + 3 * n], np.uint8)
        if gct.size < 3 * n:
            raise ValueError("corrupt GIF: truncated color table")
        gct = gct.reshape(-1, 3)
        pos += 3 * n
    bg_rgb = (
        gct[bg] if gct is not None and bg < gct.shape[0]
        else np.zeros(3, np.uint8)
    )
    canvas = np.broadcast_to(bg_rgb, (h, w, 3)).astype(np.uint8).copy()
    frames, ts = [], 0
    transp, delay, disposal = None, 0, 0
    while pos < len(payload):
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:
            break
        if b0 == 0x21:
            label = payload[pos]
            pos += 1
            data, pos = _gif_subblocks(payload, pos)
            if label == 0xF9 and len(data) >= 4:
                disposal = (data[0] >> 2) & 7
                transp = data[3] if data[0] & 1 else None
                delay = struct.unpack("<H", data[1:3])[0] * 10
            continue
        if b0 != 0x2C:
            raise ValueError(f"corrupt GIF: unknown block 0x{b0:02x}")
        idx, pal, left, top, pos = _gif_image_block(payload, pos, gct)
        ch = min(idx.shape[0], max(0, h - top))
        cw = min(idx.shape[1], max(0, w - left))
        idx = idx[:ch, :cw]
        prev = canvas.copy() if disposal == 3 else None
        region = canvas[top : top + ch, left : left + cw]
        if transp is None:
            region[:] = pal[idx]
        else:
            mask = idx != transp
            region[mask] = pal[idx][mask]
        frames.append((ts, canvas.copy()))
        # the very common delay=0 (or missing-GCE) 'as fast as
        # possible' encoding: renderers clamp to ~100 ms, and distinct
        # timestamps are what lets grid sampling see more than one
        # frame (review fix — 50 equal-ts frames collapsed to a
        # single sampled frame, the LAST one)
        ts += delay if delay >= 20 else 100
        if disposal == 2:
            canvas[top : top + ch, left : left + cw] = bg_rgb
        elif disposal == 3 and prev is not None:
            canvas = prev
        transp, delay, disposal = None, 0, 0  # GCE binds ONE image
    return frames


@_corrupt_as_valueerror
def gif_frame_count(payload: bytes) -> int:
    """Number of image descriptors (animation frames) — a metadata
    scan that skips LZW data without decoding it."""
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF")
    packed = payload[10]
    pos = 13 + (3 * (2 << (packed & 7)) if packed & 0x80 else 0)
    frames = 0
    while pos < len(payload):
        b0 = payload[pos]
        pos += 1
        if b0 == 0x3B:
            break
        if b0 == 0x21:
            pos += 1
            _, pos = _gif_subblocks(payload, pos)
            continue
        if b0 != 0x2C:
            raise ValueError(f"corrupt GIF: unknown block 0x{b0:02x}")
        ipk = payload[pos + 8]
        pos += 9
        if ipk & 0x80:
            pos += 3 * (2 << (ipk & 7))
        pos += 1  # LZW min code size
        _, pos = _gif_subblocks(payload, pos)
        frames += 1
    return frames


def encode_gif(
    frames,
    palette: np.ndarray,
    transparent: int | None = None,
    interlace: bool = False,
    delays_ms=0,
    disposal=0,
    rects=None,
) -> bytes:
    """Fixture dual: (h, w) index array or a list of them (animation)
    + (n, 3) palette → GIF89a bytes. Real LZW compression (the decoder
    is exercised on genuine variable-width streams, including mid-
    stream table resets on large inputs). ``delays_ms``/``disposal``
    (int or per-frame list; delays round to 1/100 s) and optional
    per-frame ``rects`` [(left, top)] emit the animation side —
    partial frames over a logical screen sized by frame 0."""
    if isinstance(frames, np.ndarray):
        frames = [frames]
    h, w = frames[0].shape
    if isinstance(delays_ms, int):
        delays_ms = [delays_ms] * len(frames)
    if isinstance(disposal, int):
        disposal = [disposal] * len(frames)
    rects = rects or [(0, 0)] * len(frames)
    pal = np.asarray(palette, np.uint8)
    bits = max(1, int(np.ceil(np.log2(max(2, pal.shape[0])))))
    gct = np.zeros((1 << bits, 3), dtype=np.uint8)
    gct[: pal.shape[0]] = pal
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += gct.tobytes()
    mcs = max(2, bits)
    for fi, idx in enumerate(frames):
        fh, fw = idx.shape
        if transparent is not None or delays_ms[fi] or disposal[fi]:
            gce = (0x01 if transparent is not None else 0) | (
                (disposal[fi] & 7) << 2
            )
            out += bytes([0x21, 0xF9, 4, gce])
            out += struct.pack("<H", delays_ms[fi] // 10)
            out += bytes([transparent or 0, 0])
        left, top = rects[fi]
        out += struct.pack("<BHHHHB", 0x2C, left, top, fw, fh,
                           0x40 if interlace else 0)
        rows = idx[_gif_interlace_order(fh)] if interlace else idx
        lzw = _lzw_encode(rows.astype(np.uint8).tobytes(), mcs)
        out.append(mcs)
        for i in range(0, len(lzw), 255):
            blk = lzw[i : i + 255]
            out.append(len(blk))
            out += blk
        out.append(0)
    out.append(0x3B)
    return bytes(out)


# --- WAV -------------------------------------------------------------------



def _g711_ulaw_table() -> np.ndarray:
    """G.711 µ-law byte → 16-bit linear, bit-exact to the classic Sun
    g711.c expansion (pinned against stdlib audioop in tests)."""
    u = ~np.arange(256) & 0xFF
    exp = (u >> 4) & 7
    mant = u & 0xF
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(u & 0x80, -mag, mag).astype(np.int16)


def _g711_alaw_table() -> np.ndarray:
    """G.711 A-law byte → 16-bit linear (sign bit SET is positive
    after the 0x55 toggle; pinned against audioop in tests)."""
    a = np.arange(256) ^ 0x55
    exp = (a >> 4) & 7
    mant = a & 0xF
    mag = np.where(exp == 0, (mant << 4) + 8,
                   ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    return np.where(a & 0x80, mag, -mag).astype(np.int16)


_ULAW_TABLE = _g711_ulaw_table()
_ALAW_TABLE = _g711_alaw_table()


def _g711_expand(data: bytes, table: np.ndarray) -> np.ndarray:
    """G.711 bytes -> float32 in [-1, 1] via an expansion table."""
    codes = np.frombuffer(data, np.uint8).astype(np.int64)
    return table[codes].astype(np.float32) / 32768.0


def _pcm_to_float(raw: bytes, sw: int, big_endian: bool,
                  signed8: bool) -> np.ndarray:
    """Interleaved integer PCM bytes → float32 in [-1, 1]. sw is
    bytes/sample (1/2/3/4); 24-bit expands to 32."""
    bo = ">" if big_endian else "<"
    if sw == 1:
        x = np.frombuffer(raw, dtype=np.int8 if signed8 else np.uint8)
        x = x.astype(np.float32)
        if not signed8:
            x -= 128.0
        return x / 128.0
    if sw == 3:
        b = np.frombuffer(raw, dtype=np.uint8)
        b = b[: (b.size // 3) * 3].reshape(-1, 3)
        if big_endian:
            v = ((b[:, 0].astype(np.int32) << 16)
                 | (b[:, 1].astype(np.int32) << 8)
                 | b[:, 2].astype(np.int32))
        else:
            v = ((b[:, 2].astype(np.int32) << 16)
                 | (b[:, 1].astype(np.int32) << 8)
                 | b[:, 0].astype(np.int32))
        v = (v << 8) >> 8  # sign-extend 24 → 32
        return v.astype(np.float32) / float(1 << 23)
    if sw in (2, 4):
        x = np.frombuffer(raw, dtype=f"{bo}i{sw}").astype(np.float32)
        return x / float(2 ** (8 * sw - 1))
    raise ValueError(f"unsupported PCM sample width {sw}")


@_corrupt_as_valueerror
def decode_wav(payload: bytes) -> tuple[np.ndarray, int]:
    """WAV bytes → (float32 mono samples in [-1, 1], sample_rate).
    8/16/24/32-bit PCM via the stdlib ``wave`` reader; multi-channel
    is averaged to mono (the usual feature-extraction front end).
    Cross-validated against the AIFF/AU decodes of the same clip
    (CPython audiodata fixtures)."""
    with wave.open(io.BytesIO(payload), "rb") as f:
        nch, sw, rate, nframes = (
            f.getnchannels(), f.getsampwidth(), f.getframerate(),
            f.getnframes(),
        )
        raw = f.readframes(nframes)
    if sw not in (1, 2, 3, 4):
        raise ValueError(f"unsupported WAV sample width {sw}")
    x = _pcm_to_float(raw, sw, big_endian=False, signed8=False)
    if nch > 1:
        x = x.reshape(-1, nch).mean(axis=1)
    return x, rate


def _read_f80(b: bytes) -> int:
    """80-bit IEEE extended float → int (AIFF sample rates are small
    positive integers; that subset decodes exactly)."""
    if len(b) < 10:
        raise ValueError("corrupt AIFF: short extended float")
    exp = ((b[0] & 0x7F) << 8) | b[1]
    mant = int.from_bytes(b[2:10], "big")
    if exp == 0 and mant == 0:
        return 0
    val = mant * 2.0 ** (exp - 16383 - 63)
    if b[0] & 0x80:
        val = -val
    return int(round(val))


def _parse_aiff(payload: bytes):
    """Shared AIFF/AIFC FORM walk -> (nch, nframes, bits, rate, comp,
    ssnd_data_or_None). Used by decode_aiff AND audio_header_meta so
    the two paths agree by construction (review fix)."""
    if payload[:4] != b"FORM" or payload[8:12] not in (b"AIFF",
                                                       b"AIFC"):
        raise ValueError("not an AIFF")
    is_aifc = payload[8:12] == b"AIFC"
    pos = 12
    n = len(payload)
    nch = bits = rate = nframes = None
    comp = b"NONE"
    data = None
    while pos + 8 <= n:
        cc = payload[pos:pos + 4]
        sz = int.from_bytes(payload[pos + 4:pos + 8], "big")
        body = payload[pos + 8:pos + 8 + sz]
        if len(body) < sz:
            raise ValueError("corrupt AIFF: truncated chunk")
        if cc == b"COMM":
            if sz < 18:
                raise ValueError("corrupt AIFF: short COMM")
            nch, nframes, bits = struct.unpack(">hIh", body[:8])
            rate = _read_f80(body[8:18])
            if is_aifc and sz >= 22:
                comp = body[18:22]
        elif cc == b"SSND":
            if sz < 8:
                raise ValueError("corrupt AIFF: short SSND")
            (off,) = struct.unpack(">I", body[:4])
            data = body[8 + off:]
        pos += 8 + sz + (sz & 1)
    if nch is None or rate is None or rate <= 0:
        raise ValueError("corrupt AIFF: missing/invalid COMM")
    return nch, nframes, bits, rate, comp, data


@_corrupt_as_valueerror
def decode_aiff(payload: bytes) -> tuple[np.ndarray, int]:
    """AIFF / AIFC bytes → (float32 mono samples in [-1, 1], rate).
    FORM chunk walk; COMM carries channels/frames/bits and the 80-bit
    extended-float sample rate; SSND holds big-endian PCM (AIFF) or,
    for AIFC, compression 'NONE' (BE), 'sowt' (LE), 'ulaw'/'ULAW' and
    'alaw'/'ALAW' (G.711). Validated sample-exact against the WAV/AU
    decodes of the same CPython fixture clip and against stdlib
    aifc where present."""
    nch, _nframes, bits, rate, comp, data = _parse_aiff(payload)
    if data is None:
        raise ValueError("corrupt AIFF: missing SSND")
    if comp in (b"ulaw", b"ULAW"):
        x = _g711_expand(data, _ULAW_TABLE)
    elif comp in (b"alaw", b"ALAW"):
        x = _g711_expand(data, _ALAW_TABLE)
    elif comp in (b"NONE", b"sowt"):
        sw = (bits + 7) // 8
        x = _pcm_to_float(data, sw, big_endian=(comp == b"NONE"),
                          signed8=True)
    else:
        raise ValueError(f"unsupported AIFC compression {comp!r}")
    if nch > 1:
        x = x[: (x.size // nch) * nch].reshape(-1, nch).mean(axis=1)
    return x, rate


def _write_f80(rate: int) -> bytes:
    """Integer sample rate → 80-bit IEEE extended float (the exact
    dual of _read_f80's integer subset)."""
    if rate <= 0:
        raise ValueError("bad sample rate")
    k = rate.bit_length() - 1
    mant = rate << (63 - k)
    exp = 16383 + k
    return struct.pack(">H", exp) + mant.to_bytes(8, "big")


def encode_aiff(samples: np.ndarray, rate: int) -> bytes:
    """Encoder dual: float32 [-1, 1] mono → 16-bit PCM AIFF."""
    pcm = (np.clip(samples, -1.0, 1.0) * 32767.0).astype(">i2")
    data = pcm.tobytes()
    comm = struct.pack(">hIh", 1, pcm.size, 16) + _write_f80(rate)
    ssnd = struct.pack(">II", 0, 0) + data
    body = (b"AIFF"
            + b"COMM" + struct.pack(">I", len(comm)) + comm
            + b"SSND" + struct.pack(">I", len(ssnd)) + ssnd
            + (b"\x00" if len(ssnd) & 1 else b""))
    return b"FORM" + struct.pack(">I", len(body)) + body


def encode_au(samples: np.ndarray, rate: int) -> bytes:
    """Encoder dual: float32 [-1, 1] mono → 16-bit PCM Sun AU."""
    pcm = (np.clip(samples, -1.0, 1.0) * 32767.0).astype(">i2")
    data = pcm.tobytes()
    return (b".snd" + struct.pack(">5I", 24, len(data), 3, rate, 1)
            + data)


_AU_ENCODINGS = {1: ("ulaw", 1), 2: ("pcm", 1), 3: ("pcm", 2),
                 4: ("pcm", 3), 5: ("pcm", 4), 6: ("f32", 4),
                 7: ("f64", 8), 27: ("alaw", 1)}


@_corrupt_as_valueerror
def decode_au(payload: bytes) -> tuple[np.ndarray, int]:
    """Sun AU (.au/.snd) bytes → (float32 mono samples, rate):
    big-endian header (magic '.snd', data offset/size, encoding,
    rate, channels); encodings G.711 µ-law/A-law, signed PCM
    8/16/24/32 and IEEE float32/64. Validated sample-exact against
    the WAV/AIFF decodes of the same CPython fixture clip and
    against stdlib sunau where present."""
    if payload[:4] != b".snd" or len(payload) < 24:
        raise ValueError("not an AU file")
    off, size, enc, rate, nch = struct.unpack(">5I", payload[4:24])
    if enc not in _AU_ENCODINGS or nch < 1 or rate <= 0:
        raise ValueError(f"unsupported AU encoding {enc}")
    if off < 24 or off > len(payload):
        raise ValueError("corrupt AU: bad data offset")
    # the AU spec reserves only 0xFFFFFFFF for "unknown size"; 0 is
    # a legitimate empty clip (review fix)
    end = len(payload) if size == 0xFFFFFFFF \
        else min(len(payload), off + size)
    data = payload[off:end]
    kind, sw = _AU_ENCODINGS[enc]
    if kind == "ulaw":
        x = _g711_expand(data, _ULAW_TABLE)
    elif kind == "alaw":
        x = _g711_expand(data, _ALAW_TABLE)
    elif kind == "f32":
        x = np.frombuffer(data[: (len(data) // 4) * 4],
                          dtype=">f4").astype(np.float32)
    elif kind == "f64":
        x = np.frombuffer(data[: (len(data) // 8) * 8],
                          dtype=">f8").astype(np.float32)
    else:
        x = _pcm_to_float(data[: (len(data) // sw) * sw], sw,
                          big_endian=True, signed8=True)
    if nch > 1:
        x = x[: (x.size // nch) * nch].reshape(-1, nch).mean(axis=1)
    return x, rate


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """float32 [-1, 1] mono → 16-bit PCM WAV bytes."""
    pcm = np.clip(samples, -1.0, 1.0)
    pcm = (pcm * 32767.0).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as f:
        f.setnchannels(1)
        f.setsampwidth(2)
        f.setframerate(rate)
        f.writeframes(pcm.tobytes())
    return buf.getvalue()


# --- JPEG (sequential + progressive DCT, ITU-T T.81) ------------------------
#
# Pure numpy + stdlib. Scope: baseline (SOF0) AND progressive (SOF2,
# spectral selection + successive approximation, Annex G), 8-bit, 1 or
# 3 components, sampling factors ≤ 2 (4:4:4 / 4:2:2 / 4:2:0), restart
# markers honored. Arithmetic coding / 12-bit / lossless raise
# ValueError. Entropy (de)coding is per-symbol Python —
# inherently sequential bit I/O; everything after it (dequant, IDCT,
# upsample, colorspace) is batched numpy over ALL blocks at once.
# Production swaps this kernel for libjpeg-turbo.

# Decode-side allocation cap: coefficient planes are sized from the
# SOF header before any entropy data is read, so header dims bound
# memory, not payload size. 64 MP ≈ 8K×8K — beyond any sane web
# image; ~1.6 GB transient per 3-component decode at the cap.
JPEG_MAX_PIXELS = 64_000_000

_ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10,
    17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# Annex K quantization tables (quality 50), in NATURAL (row-major)
# order; zigzagged at segment-write / dequant time.
_QUANT_LUMA = np.array([
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
], dtype=np.int32)

_QUANT_CHROMA = np.array([
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
], dtype=np.int32)

# Annex K "typical" Huffman tables: (BITS[1..16], HUFFVAL).
_HUFF_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_HUFF_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_HUFF_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)


def _dct_matrix() -> np.ndarray:
    """Orthonormal 8-point DCT-II basis C: forward F = C f Cᵀ,
    inverse f = Cᵀ F C — the whole image IDCTs as two einsums."""
    u = np.arange(8).reshape(8, 1)
    x = np.arange(8).reshape(1, 8)
    c = np.cos((2 * x + 1) * u * np.pi / 16.0)
    c[0] *= np.sqrt(0.5)
    return c * 0.5


_DCT_C = _dct_matrix()


def _huff_decode_table(bits: list, values: list) -> dict:
    """Canonical Huffman (T.81 Annex C): {(length, code): value}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = values[k]
            k += 1
            code += 1
        code <<= 1
    return table


def _huff_encode_table(bits: list, values: list) -> dict:
    """Inverse view for the encoder: {value: (code, length)}."""
    return {
        v: (code, length)
        for (length, code), v in _huff_decode_table(bits, values).items()
    }


class _BitReader:
    """MSB-first bit reader over DESTUFFED entropy-coded bytes."""

    __slots__ = ("data", "pos", "acc", "n")

    def __init__(self, data: bytes):
        self.data, self.pos, self.acc, self.n = data, 0, 0, 0

    def bit(self) -> int:
        if self.n == 0:
            if self.pos >= len(self.data):
                # past-the-end pad bits read as 1 (T.81 F.2.2.5 —
                # encoders pad the final byte with 1-bits)
                return 1
            self.acc = self.data[self.pos]
            self.pos += 1
            self.n = 8
        self.n -= 1
        return (self.acc >> self.n) & 1

    def bits(self, k: int) -> int:
        v = 0
        for _ in range(k):
            v = (v << 1) | self.bit()
        return v

    def huff(self, table: dict) -> int:
        code, length = 0, 0
        while length < 16:
            code = (code << 1) | self.bit()
            length += 1
            v = table.get((length, code))
            if v is not None:
                return v
        raise ValueError("bad JPEG Huffman code")


def _extend(v: int, s: int) -> int:
    """T.81 F.2.2.1 EXTEND: s-bit magnitude → signed coefficient."""
    return v if s == 0 or v >= (1 << (s - 1)) else v - (1 << s) + 1


def _prog_ac_first(rd, blk, actab, ss, se, al, eobrun) -> int:
    """Progressive AC first pass (T.81 G.1.2.2 decode) for one block's
    spectral band; returns the updated EOB run (a run of N means this
    band is all-zero in the next N blocks of the scan)."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = rd.huff(actab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:  # ZRL: 16 zeros
                k += 16
                continue
            eb = (1 << r) - 1
            if r:
                eb += rd.bits(r)
            return eb
        k += r
        if k > se:
            raise ValueError("corrupt JPEG: AC run past band end")
        blk[k] = _extend(rd.bits(s), s) << al
        k += 1
    return 0


def _prog_ac_refine(rd, blk, actab, ss, se, al, eobrun) -> int:
    """Progressive AC refinement pass (T.81 G.1.2.3 decode, the
    libjpeg decode_mcu_AC_refine flow): newly-nonzero coefficients
    arrive as (zero-history-run, ±2^Al) symbols; every already-nonzero
    coefficient passed over consumes one correction bit that may add
    ±2^Al toward its true magnitude."""
    p1, m1 = 1 << al, -(1 << al)

    def correct(k: int) -> None:
        c = int(blk[k])
        if c != 0 and rd.bit() and not (c & p1):
            blk[k] = c + (p1 if c >= 0 else m1)

    k = ss
    if eobrun == 0:
        while k <= se:
            rs = rd.huff(actab)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s == 0:
                if r != 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += rd.bits(r)
                    break  # band ends; correction bits continue below
                # r == 15, s == 0: skip 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError(
                        "corrupt JPEG: refinement magnitude != 1"
                    )
                val = p1 if rd.bit() else m1
            # advance past r zero-history coefficients, consuming one
            # correction bit per nonzero coefficient crossed
            while k <= se:
                if int(blk[k]) != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # rest of the band: correction bits only
            correct(k)
            k += 1
        eobrun -= 1
    return eobrun


def _decode_prog_scan(
    data, order, ss, se, ah, al, comps, planes,
    W, H, hmax, vmax, mcus_x, mcus_y, restart_interval,
):
    """Decode one progressive scan into the coefficient planes.
    ``order`` is [(comp_idx, dc_table_or_None, ac_table_or_None)] with
    tables resolved at SOS-parse time (progressive streams may
    redefine a DHT slot between scans). Interleaved (multi-component,
    DC only) scans walk MCU order; single-component scans walk the
    component's OWN block raster — ceil(ceil(W·h/hmax)/8) wide, which
    can be narrower than the MCU-padded plane. Restart markers
    byte-align and reset both the DC predictors and the EOB run."""
    interleaved = len(order) > 1
    if ss == 0 and se != 0:
        raise ValueError("corrupt JPEG: progressive scan Ss=0 needs Se=0")
    if ss > se or se > 63:
        raise ValueError("corrupt JPEG: bad spectral band")
    if ss > 0 and interleaved:
        raise ValueError("corrupt JPEG: interleaved AC progressive scan")
    if interleaved:
        total = mcus_x * mcus_y
        bw = 0
    else:
        ci = order[0][0]
        _, ch, cv, _ = comps[ci]
        bw = -(-(-(-W * ch // hmax)) // 8)
        bh = -(-(-(-H * cv // vmax)) // 8)
        total = bw * bh
    intervals = (
        re.split(b"\xff[\xd0-\xd7]", data)
        if restart_interval
        else [data]
    )
    pred = [0] * len(comps)
    eobrun = 0
    unit = 0
    for interval in intervals:
        rd = _BitReader(interval.replace(b"\xff\x00", b"\xff"))
        if restart_interval:
            pred = [0] * len(comps)
            eobrun = 0
            stop = min(unit + restart_interval, total)
        else:
            stop = total
        while unit < stop:
            if ss == 0:  # DC scan
                if interleaved:
                    my, mx = divmod(unit, mcus_x)
                    blocks = []
                    for ci, dctab, _ in order:
                        _, ch, cv, _ = comps[ci]
                        for b in range(ch * cv):
                            by, bx = divmod(b, ch)
                            blocks.append(
                                (ci, dctab,
                                 planes[ci][my * cv + by, mx * ch + bx])
                            )
                else:
                    ci, dctab, _ = order[0]
                    by, bx = divmod(unit, bw)
                    blocks = [(ci, dctab, planes[ci][by, bx])]
                for ci, dctab, blk in blocks:
                    if ah == 0:
                        s = rd.huff(dctab)
                        pred[ci] += _extend(rd.bits(s), s)
                        blk[0] = pred[ci] << al
                    elif rd.bit():  # refinement: one bit per block
                        blk[0] = int(blk[0]) | (1 << al)
            else:  # AC scan, single component
                ci, _, actab = order[0]
                by, bx = divmod(unit, bw)
                blk = planes[ci][by, bx]
                fn = _prog_ac_first if ah == 0 else _prog_ac_refine
                eobrun = fn(rd, blk, actab, ss, se, al, eobrun)
            unit += 1
    if unit != total:
        raise ValueError(
            f"truncated progressive scan: {unit}/{total} units"
        )


@_corrupt_as_valueerror
def decode_jpeg(payload: bytes) -> np.ndarray:
    """JPEG bytes (baseline SOF0 or progressive SOF2) → uint8 (h, w)
    grayscale or (h, w, 3) RGB.

    Marker parse → canonical-Huffman entropy decode (per-MCU for
    baseline; per-scan DC/AC first+refinement passes with EOB-run
    semantics for progressive — the only sequential part) → BATCHED
    dequant + 8×8 IDCT over all blocks as two matrix products →
    nearest upsample of subsampled chroma → JFIF YCbCr→RGB. Raises
    ValueError on unsupported codings (arithmetic/lossless/12-bit) or
    corrupt streams (truncated segments / undeclared tables surface
    as the documented ValueError, never IndexError/KeyError/
    struct.error — the shared _corrupt_as_valueerror contract)."""
    return _decode_jpeg(payload)


def _decode_jpeg(payload: bytes) -> np.ndarray:
    if payload[:3] != b"\xff\xd8\xff":
        raise ValueError("not a JPEG")
    pos = 2
    quant: dict[int, np.ndarray] = {}
    huff: dict[tuple, dict] = {}  # (class 0=DC/1=AC, id) → decode table
    comps = None  # list of (cid, h, v, tq)
    H = W = 0
    restart_interval = 0
    scan = None
    scan_order = None  # list of (comp_idx, dc_table, ac_table)
    progressive = False
    prog_scans = []  # (order, ss, se, ah, al, dri, entropy-bytes)
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError("bad JPEG marker stream")
        marker = payload[pos + 1]
        pos += 2
        if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
            continue  # standalone (SOI/EOI/RST/TEM)
        (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
        seg = payload[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq != 0:
                    raise ValueError("16-bit quant tables unsupported")
                zz = np.frombuffer(
                    seg, np.uint8, count=64, offset=p + 1
                ).astype(np.int32)
                nat = np.empty(64, np.int32)
                nat[_ZIGZAG] = zz
                quant[tq] = nat
                p += 65
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                nval = sum(bits)
                vals = list(seg[p + 17 : p + 17 + nval])
                huff[(tc, th)] = _huff_decode_table(bits, vals)
                p += 17 + nval
        elif marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            progressive = marker == 0xC2
            prec, H, W, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit JPEG supported")
            if W == 0 or H == 0:
                raise ValueError("corrupt JPEG: zero SOF dimension")
            # the coefficient planes are allocated from these header-
            # declared dims BEFORE any entropy data is read — an
            # unchecked 65535x65535 header in a 200-byte payload would
            # request ~17 GB/component and OOM-kill the Arrow worker
            # instead of taking the ValueError/fallback route
            if W * H > JPEG_MAX_PIXELS:
                raise ValueError(
                    f"JPEG dimensions {W}x{H} exceed JPEG_MAX_PIXELS="
                    f"{JPEG_MAX_PIXELS} (corrupt header or raise the "
                    "module constant)"
                )
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                "unsupported JPEG coding (extended/lossless/arithmetic)"
            )
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows the header
            if scan is not None and not progressive:
                # multi-scan (non-interleaved) baseline: each SOS
                # carries one component; decoding only the last would
                # silently return garbage tagged as a real decode
                raise ValueError(
                    "multi-scan baseline JPEG unsupported (one "
                    "interleaved SOS only)"
                )
            if comps is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            if not progressive and ns != len(comps):
                raise ValueError(
                    "non-interleaved scan (components split across "
                    "scans) unsupported"
                )
            scan_order = []
            for i in range(ns):
                cs, tt = seg[1 + 2 * i], seg[2 + 2 * i]
                by_id = [j for j, c in enumerate(comps) if c[0] == cs]
                if not by_id:
                    raise ValueError(
                        f"SOS names component {cs} absent from SOF"
                    )
                scan_order.append((by_id[0], tt >> 4, tt & 0xF))
            data_start = pos + seglen
            end = data_start
            while end < len(payload) - 1:
                if payload[end] == 0xFF and payload[end + 1] not in (
                    0x00, 0xD0, 0xD1, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6,
                    0xD7,
                ):
                    break
                end += 1
            scan = payload[data_start:end]
            pos = end
            if progressive:
                if len(seg) < 4 + 2 * ns:
                    raise ValueError("corrupt JPEG: short SOS header")
                ss, se, ahal = (
                    seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
                )
                # resolve Huffman tables NOW: later scans may redefine
                # the same DHT slot (per-scan optimized tables are the
                # norm in progressive streams)
                order = []
                for ci, tdc, tac in scan_order:
                    dctab = huff.get((0, tdc)) if ss == 0 and (
                        ahal >> 4) == 0 else None
                    actab = huff.get((1, tac)) if ss > 0 else None
                    if ss == 0 and (ahal >> 4) == 0 and dctab is None:
                        raise ValueError(
                            f"SOS references undeclared DC table {tdc}"
                        )
                    if ss > 0 and actab is None:
                        raise ValueError(
                            f"SOS references undeclared AC table {tac}"
                        )
                    order.append((ci, dctab, actab))
                prog_scans.append(
                    (order, ss, se, ahal >> 4, ahal & 0xF,
                     restart_interval, scan)
                )
            continue
        pos += seglen
    if comps is None or scan is None:
        raise ValueError("truncated JPEG (no SOF/SOS)")

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcus_x = -(-W // (8 * hmax))
    mcus_y = -(-H // (8 * vmax))
    # per-component zigzag coefficient planes (block grid × 64)
    planes = [
        np.zeros((mcus_y * v, mcus_x * h, 64), np.int32)
        for (_, h, v, _) in comps
    ]
    if progressive:
        for order, ss, se, ah, al, dri, data in prog_scans:
            _decode_prog_scan(
                data, order, ss, se, ah, al, comps, planes,
                W, H, hmax, vmax, mcus_x, mcus_y, dri,
            )
        return _jpeg_idct_output(comps, planes, quant, H, W, hmax, vmax)

    # restart markers byte-align and reset DC prediction: split on
    # RSTn and destuff each interval independently
    intervals = (
        re.split(b"\xff[\xd0-\xd7]", scan)
        if restart_interval
        else [scan]
    )
    pred = [0] * len(comps)
    mcu = 0
    for interval in intervals:
        rd = _BitReader(interval.replace(b"\xff\x00", b"\xff"))
        if restart_interval:
            pred = [0] * len(comps)
            stop = min(mcu + restart_interval, mcus_x * mcus_y)
        else:
            stop = mcus_x * mcus_y
        while mcu < stop:
            my, mx = divmod(mcu, mcus_x)
            for ci, tdc, tac in scan_order:
                _, ch, cv, _ = comps[ci]
                for b in range(ch * cv):
                    by, bx = divmod(b, ch)
                    s = rd.huff(huff[(0, tdc)])
                    pred[ci] += _extend(rd.bits(s), s)
                    blk = planes[ci][my * cv + by, mx * ch + bx]
                    blk[0] = pred[ci]
                    k = 1
                    while k < 64:
                        rs = rd.huff(huff[(1, tac)])
                        r, s = rs >> 4, rs & 0xF
                        if s == 0:
                            if r == 15:  # ZRL: 16 zeros
                                k += 16
                                continue
                            break  # EOB
                        k += r
                        if k > 63:
                            raise ValueError(
                                "corrupt JPEG: AC run past coef 63"
                            )
                        blk[k] = _extend(rd.bits(s), s)
                        k += 1
            mcu += 1
    if mcu != mcus_x * mcus_y:
        # a DRI stream truncated at a restart boundary exhausts the
        # interval list early; without this check the remaining MCUs
        # silently decode as flat gray (all-zero blocks)
        raise ValueError(
            f"truncated JPEG scan: {mcu}/{mcus_x * mcus_y} MCUs decoded"
        )
    return _jpeg_idct_output(comps, planes, quant, H, W, hmax, vmax)


def _jpeg_idct_output(comps, planes, quant, H, W, hmax, vmax):
    """Shared back half of baseline and progressive decode: batched
    dequant + de-zigzag + 8×8 IDCT, chroma upsample, YCbCr→RGB."""
    out_planes = []
    for (cid, ch, cv, tq), coefs in zip(comps, planes):
        by, bx, _ = coefs.shape
        deq = coefs.astype(np.float64)
        zzq = quant[tq][_ZIGZAG]  # natural→zigzag view of the table
        deq *= zzq  # dequant in zigzag order
        nat = np.zeros_like(deq)
        nat[:, :, _ZIGZAG] = deq  # de-zigzag all blocks at once
        blocks = nat.reshape(by, bx, 8, 8)
        # batched IDCT: f = Cᵀ F C over every block in one einsum pair
        spatial = np.einsum(
            "ki,yxkl,lj->yxij", _DCT_C, blocks, _DCT_C, optimize=True
        )
        plane = (
            spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
            + 128.0
        )
        # nearest upsample to full resolution, crop to (H, W)
        plane = np.repeat(
            np.repeat(plane, vmax // cv, axis=0), hmax // ch, axis=1
        )[:H, :W]
        out_planes.append(plane)
    if len(out_planes) == 1:
        return np.clip(np.round(out_planes[0]), 0, 255).astype(np.uint8)
    y, cb, cr = out_planes
    r = y + 1.402 * (cr - 128.0)
    g = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
    b = y + 1.772 * (cb - 128.0)
    rgb = np.stack([r, g, b], axis=-1)
    return np.clip(np.round(rgb), 0, 255).astype(np.uint8)


class _BitWriter:
    """MSB-first bit writer with 0xFF byte stuffing (T.81 F.1.2.3)."""

    __slots__ = ("out", "acc", "n")

    def __init__(self):
        self.out, self.acc, self.n = bytearray(), 0, 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self.acc = (self.acc << 1) | ((code >> i) & 1)
            self.n += 1
            if self.n == 8:
                self.out.append(self.acc)
                if self.acc == 0xFF:
                    self.out.append(0x00)
                self.acc, self.n = 0, 0

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.write((1 << pad) - 1, pad)  # pad with 1-bits
        return bytes(self.out)


def _mag_cat(v: int) -> int:
    """Magnitude category (bit length of |v|)."""
    return int(abs(v)).bit_length()


def _encode_block(wtr, blk, pred, enc_dc, enc_ac) -> int:
    """Huffman-encode one zigzag block; returns the new DC pred."""
    dc = int(blk[0])
    diff = dc - pred
    s = _mag_cat(diff)
    code, length = enc_dc[s]
    wtr.write(code, length)
    if s:
        wtr.write(diff if diff > 0 else diff + (1 << s) - 1, s)
    run = 0
    nz = np.nonzero(blk[1:])[0]
    last = int(nz[-1]) + 1 if nz.size else 0
    for k in range(1, last + 1):
        v = int(blk[k])
        if v == 0:
            run += 1
            continue
        while run > 15:
            code, length = enc_ac[0xF0]  # ZRL
            wtr.write(code, length)
            run -= 16
        s = _mag_cat(v)
        code, length = enc_ac[(run << 4) | s]
        wtr.write(code, length)
        wtr.write(v if v > 0 else v + (1 << s) - 1, s)
        run = 0
    if last < 63:
        code, length = enc_ac[0x00]  # EOB
        wtr.write(code, length)
    return dc


def _jpeg_coef_planes(arr: np.ndarray, subsample: str):
    """Shared encoder front half: color convert → chroma subsample →
    blocked DCT → quantize → zigzag. Returns (zz_planes, samp, qtabs,
    gray, h, w, mcus_x, mcus_y)."""
    gray = arr.ndim == 2
    h, w = arr.shape[:2]
    if gray:
        planes = [arr.astype(np.float64)]
    else:
        rgb = arr.astype(np.float64)
        r, g, b = rgb[..., 0], rgb[..., 1], rgb[..., 2]
        planes = [
            0.299 * r + 0.587 * g + 0.114 * b,
            -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0,
            0.5 * r - 0.418688 * g - 0.081312 * b + 128.0,
        ]
    if subsample not in ("444", "422", "420"):
        raise ValueError(f"unsupported subsampling {subsample!r}")
    # (h_i, v_i) per component
    if gray:
        samp = [(1, 1)]
    else:
        luma = {"444": (1, 1), "422": (2, 1), "420": (2, 2)}[subsample]
        samp = [luma, (1, 1), (1, 1)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    qtabs = [_QUANT_LUMA] + ([] if gray else [_QUANT_CHROMA])

    zz_planes = []
    for pi, plane in enumerate(planes):
        ch, cv = samp[pi]
        if (ch, cv) != (hmax, vmax):  # chroma downsample by mean
            fx, fy = hmax // ch, vmax // cv
            ph = -(-h // fy) * fy
            pw = -(-w // fx) * fx
            p2 = np.pad(plane, ((0, ph - h), (0, pw - w)), mode="edge")
            plane = p2.reshape(ph // fy, fy, pw // fx, fx).mean(
                axis=(1, 3)
            )
        cby, cbx = mcus_y * cv, mcus_x * ch
        padded = np.pad(
            plane,
            (
                (0, cby * 8 - plane.shape[0]),
                (0, cbx * 8 - plane.shape[1]),
            ),
            mode="edge",
        ) - 128.0
        blocks = padded.reshape(cby, 8, cbx, 8).transpose(0, 2, 1, 3)
        coefs = np.einsum(
            "ik,yxkl,jl->yxij", _DCT_C, blocks, _DCT_C, optimize=True
        )
        q = qtabs[min(pi, 1)].reshape(8, 8).astype(np.float64)
        qz = np.round(coefs / q).astype(np.int32).reshape(cby, cbx, 64)
        zz_planes.append(qz[:, :, _ZIGZAG])
    return zz_planes, samp, qtabs, gray, h, w, mcus_x, mcus_y


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _jpeg_header(
    sof_marker, h, w, samp, qtabs, tables, restart_interval
) -> bytearray:
    """SOI + DQT + SOFn + DRI + DHT prologue shared by both encoders;
    ``tables`` is [(tc, th, (bits, vals))]."""
    out = bytearray(b"\xff\xd8")
    for tq, qt in enumerate(qtabs):
        out += _jpeg_seg(
            0xDB, bytes([tq]) + bytes(qt[_ZIGZAG].astype(np.uint8))
        )
    nc = len(samp)
    sof = struct.pack(">BHHB", 8, h, w, nc)
    for i in range(nc):
        hi, vi = samp[i]
        sof += bytes([i + 1, (hi << 4) | vi, min(i, 1)])
    out += _jpeg_seg(sof_marker, sof)
    if restart_interval:
        out += _jpeg_seg(0xDD, struct.pack(">H", restart_interval))
    for tc, th, (bits, vals) in tables:
        out += _jpeg_seg(
            0xC4, bytes([(tc << 4) | th]) + bytes(bits) + bytes(vals)
        )
    return out


def encode_jpeg(
    arr: np.ndarray,
    subsample: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB → baseline JPEG bytes
    (Annex-K quality-50 quant + typical Huffman tables; ``subsample``
    '444'/'422'/'420' [mean-pooled chroma], optional DRI restart
    markers).
    The fixture-generator dual of ``decode_jpeg`` — deterministic, so
    tests pin decoded output exactly."""
    zz_planes, samp, qtabs, gray, h, w, mcus_x, mcus_y = (
        _jpeg_coef_planes(arr, subsample)
    )
    enc_dc = [_huff_encode_table(*_HUFF_DC_LUMA)] + (
        [] if gray else [_huff_encode_table(*_HUFF_DC_CHROMA)]
    )
    enc_ac = [_huff_encode_table(*_HUFF_AC_LUMA)] + (
        [] if gray else [_huff_encode_table(*_HUFF_AC_CHROMA)]
    )

    chunks = []  # entropy-coded intervals, RSTn markers interleaved
    wtr = _BitWriter()
    nc = len(samp)
    pred = [0] * nc
    rst = 0
    for myx in range(mcus_y * mcus_x):
        if restart_interval and myx and myx % restart_interval == 0:
            chunks.append(wtr.flush())
            chunks.append(bytes([0xFF, 0xD0 + rst]))
            rst = (rst + 1) & 7
            wtr = _BitWriter()
            pred = [0] * nc
        my, mx = divmod(myx, mcus_x)
        for pi in range(nc):
            ch, cv = samp[pi]
            t = min(pi, 1)
            for b in range(ch * cv):
                byi, bxi = divmod(b, ch)
                blk = zz_planes[pi][my * cv + byi, mx * ch + bxi]
                pred[pi] = _encode_block(
                    wtr, blk, pred[pi], enc_dc[t], enc_ac[t]
                )
    chunks.append(wtr.flush())
    data = b"".join(chunks)

    tables = [(0, 0, _HUFF_DC_LUMA), (1, 0, _HUFF_AC_LUMA)]
    if not gray:
        tables += [(0, 1, _HUFF_DC_CHROMA), (1, 1, _HUFF_AC_CHROMA)]
    out = _jpeg_header(0xC0, h, w, samp, qtabs, tables, restart_interval)
    sos = bytes([nc])
    for i in range(nc):
        t = min(i, 1)
        sos += bytes([i + 1, (t << 4) | t])
    sos += b"\x00\x3f\x00"
    out += _jpeg_seg(0xDA, sos)
    out += data
    out += b"\xff\xd9"
    return bytes(out)


# Progressive-encoder AC Huffman table: every (run, size) symbol plus
# all 15 EOB-run categories encodable — 128 codes at 8 bits + 128 at
# 9 (canonical-valid, all-ones codes unused, DHT counts fit in bytes).
# Annex K's baseline tables lack the EOBn symbols, so real progressive
# streams ship custom tables; this is the fixed deterministic stand-in.
_HUFF_AC_PROG = (
    [0, 0, 0, 0, 0, 0, 0, 128, 128, 0, 0, 0, 0, 0, 0, 0],
    list(range(256)),
)


def _prog_flush_eobrun(wtr, enc_ac, st) -> None:
    """Emit the pending EOB-run symbol (category + extension bits) and
    the correction bits buffered against it (T.81 G.1.2.2/3 encode)."""
    if st["eobrun"] > 0:
        r = st["eobrun"].bit_length() - 1
        code, length = enc_ac[r << 4]
        wtr.write(code, length)
        if r:
            wtr.write(st["eobrun"] - (1 << r), r)
        st["eobrun"] = 0
        for b in st["bits"]:
            wtr.write(b, 1)
        st["bits"] = []


def _prog_ac_first_encode(wtr, blk, enc_ac, ss, se, al, st) -> None:
    """AC first-pass encoder for one block's band (point transform =
    |v| >> Al with sign restored; trailing zeros fold into the shared
    EOB run)."""
    r = 0
    for k in range(ss, se + 1):
        v = int(blk[k])
        t = abs(v) >> al
        if t == 0:
            r += 1
            continue
        _prog_flush_eobrun(wtr, enc_ac, st)
        while r > 15:
            code, length = enc_ac[0xF0]
            wtr.write(code, length)
            r -= 16
        s = t.bit_length()
        code, length = enc_ac[(r << 4) | s]
        wtr.write(code, length)
        tv = t if v > 0 else -t
        wtr.write(tv if tv > 0 else tv + (1 << s) - 1, s)
        r = 0
    if r > 0:
        st["eobrun"] += 1
        if st["eobrun"] == 0x7FFF:
            _prog_flush_eobrun(wtr, enc_ac, st)


def _prog_ac_refine_encode(wtr, blk, enc_ac, ss, se, al, st) -> None:
    """AC refinement encoder (the libjpeg encode_mcu_AC_refine flow):
    newly-nonzero coefficients (|v| >> Al == 1) emit (run, 1) + sign;
    already-nonzero ones buffer one correction bit apiece, attached to
    the symbol — or EOB run — that follows them."""
    absv = [abs(int(blk[k])) >> al for k in range(ss, se + 1)]
    eob = ss - 1  # index of the LAST newly-nonzero coefficient
    for i, t in enumerate(absv):
        if t == 1:
            eob = ss + i
    r = 0
    br: list[int] = []
    for i, t in enumerate(absv):
        k = ss + i
        if t == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            _prog_flush_eobrun(wtr, enc_ac, st)
            code, length = enc_ac[0xF0]
            wtr.write(code, length)
            r -= 16
            for b in br:
                wtr.write(b, 1)
            br = []
        if t > 1:  # history coefficient: correction bit only
            br.append(t & 1)
            continue
        _prog_flush_eobrun(wtr, enc_ac, st)
        code, length = enc_ac[(r << 4) | 1]
        wtr.write(code, length)
        wtr.write(1 if int(blk[k]) >= 0 else 0, 1)
        for b in br:
            wtr.write(b, 1)
        br = []
        r = 0
    if r > 0 or br:
        st["eobrun"] += 1
        st["bits"].extend(br)
        if st["eobrun"] == 0x7FFF:
            _prog_flush_eobrun(wtr, enc_ac, st)


def encode_jpeg_progressive(
    arr: np.ndarray, subsample: str = "444"
) -> bytes:
    """uint8 (h, w) grayscale or (h, w, 3) RGB → progressive (SOF2)
    JPEG with spectral selection AND successive approximation — the
    libjpeg-default-style script (interleaved DC at Al=1, banded luma
    AC at Al=2, chroma at Al=1, then DC/AC refinement passes down to
    Al=0). Same quant tables as ``encode_jpeg``, so a full progressive
    decode is bit-identical to the baseline decode of the same image —
    the round-trip test's oracle."""
    zz_planes, samp, qtabs, gray, h, w, mcus_x, mcus_y = (
        _jpeg_coef_planes(arr, subsample)
    )
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)
    enc_dc = [_huff_encode_table(*_HUFF_DC_LUMA)] + (
        [] if gray else [_huff_encode_table(*_HUFF_DC_CHROMA)]
    )
    enc_ac = _huff_encode_table(*_HUFF_AC_PROG)
    if gray:
        script = [
            ((0,), 0, 0, 0, 1),
            ((0,), 1, 5, 0, 2),
            ((0,), 6, 63, 0, 2),
            ((0,), 1, 63, 2, 1),
            ((0,), 0, 0, 1, 0),
            ((0,), 1, 63, 1, 0),
        ]
    else:
        script = [
            ((0, 1, 2), 0, 0, 0, 1),
            ((0,), 1, 5, 0, 2),
            ((2,), 1, 63, 0, 1),
            ((1,), 1, 63, 0, 1),
            ((0,), 6, 63, 0, 2),
            ((0,), 1, 63, 2, 1),
            ((0, 1, 2), 0, 0, 1, 0),
            ((2,), 1, 63, 1, 0),
            ((1,), 1, 63, 1, 0),
            ((0,), 1, 63, 1, 0),
        ]

    def comp_blocks(ci):  # component's own raster (non-interleaved)
        ch, cv = samp[ci]
        bw = -(-(-(-w * ch // hmax)) // 8)
        bh = -(-(-(-h * cv // vmax)) // 8)
        return [
            zz_planes[ci][by, bx]
            for by in range(bh)
            for bx in range(bw)
        ]

    tables = [(0, 0, _HUFF_DC_LUMA), (1, 0, _HUFF_AC_PROG)]
    if not gray:
        tables += [(0, 1, _HUFF_DC_CHROMA)]
    out = _jpeg_header(0xC2, h, w, samp, qtabs, tables, 0)
    for cis, ss, se, ah, al in script:
        wtr = _BitWriter()
        if ss == 0 and ah == 0:  # DC first
            pred = [0] * len(samp)
            if len(cis) > 1:  # interleaved MCU order
                for myx in range(mcus_y * mcus_x):
                    my, mx = divmod(myx, mcus_x)
                    for ci in cis:
                        ch, cv = samp[ci]
                        for b in range(ch * cv):
                            byi, bxi = divmod(b, ch)
                            blk = zz_planes[ci][
                                my * cv + byi, mx * ch + bxi
                            ]
                            dc = int(blk[0]) >> al  # arithmetic shift
                            diff = dc - pred[ci]
                            pred[ci] = dc
                            s = _mag_cat(diff)
                            code, length = enc_dc[min(ci, 1)][s]
                            wtr.write(code, length)
                            if s:
                                wtr.write(
                                    diff if diff > 0
                                    else diff + (1 << s) - 1, s
                                )
            else:
                ci = cis[0]
                p = 0
                for blk in comp_blocks(ci):
                    dc = int(blk[0]) >> al
                    diff, p = dc - p, dc
                    s = _mag_cat(diff)
                    code, length = enc_dc[min(ci, 1)][s]
                    wtr.write(code, length)
                    if s:
                        wtr.write(
                            diff if diff > 0 else diff + (1 << s) - 1, s
                        )
        elif ss == 0:  # DC refinement: one raw bit per block
            if len(cis) > 1:
                for myx in range(mcus_y * mcus_x):
                    my, mx = divmod(myx, mcus_x)
                    for ci in cis:
                        ch, cv = samp[ci]
                        for b in range(ch * cv):
                            byi, bxi = divmod(b, ch)
                            blk = zz_planes[ci][
                                my * cv + byi, mx * ch + bxi
                            ]
                            wtr.write((int(blk[0]) >> al) & 1, 1)
            else:
                for blk in comp_blocks(cis[0]):
                    wtr.write((int(blk[0]) >> al) & 1, 1)
        else:  # AC scan over one component's raster
            st = {"eobrun": 0, "bits": []}
            fn = (
                _prog_ac_first_encode if ah == 0
                else _prog_ac_refine_encode
            )
            for blk in comp_blocks(cis[0]):
                fn(wtr, blk, enc_ac, ss, se, al, st)
            _prog_flush_eobrun(wtr, enc_ac, st)
        sos = bytes([len(cis)])
        for ci in cis:
            sos += bytes([ci + 1, (min(ci, 1) << 4) | 0])
        sos += bytes([ss, se, (ah << 4) | al])
        out += _jpeg_seg(0xDA, sos)
        out += wtr.flush()
    out += b"\xff\xd9"
    return bytes(out)


# --- MP4 (ISO BMFF container demux — ISO/IEC 14496-12) ----------------------
#
# The CONTAINER is plain big-endian box structures the stdlib parses
# fine; only the codec payload inside (H.264/AAC) needs external
# libraries. So frame SAMPLING is real: walk moov → trak(vide) → stbl,
# expand the stts/stsc/stsz/stco sample tables, and slice each
# sample's exact byte range out of mdat with its real timestamp.
# Pixel decode of those samples stays on the disclosed stub.


def _box(tag: bytes, *payload: bytes) -> bytes:
    body = b"".join(payload)
    return struct.pack(">I", 8 + len(body)) + tag + body


def _fbox(tag: bytes, version: int, flags: int, *payload: bytes) -> bytes:
    return _box(tag, struct.pack(">I", (version << 24) | flags), *payload)


_MP4_MATRIX = struct.pack(
    ">9i", 0x10000, 0, 0, 0, 0x10000, 0, 0, 0, 0x40000000
)


def encode_mp4(
    frames: list,
    durations_ms=400,
    timescale: int = 1000,
    width: int = 64,
    height: int = 48,
    samples_per_chunk: int = 3,
    sync_every: int = 0,
) -> bytes:
    """Minimal valid ISO-BMFF MP4: ftyp + mdat (concatenated frame
    payloads) + moov with one video trak whose stts/stsc/stsz/stco
    tables describe the frames exactly. Frame payloads are opaque
    bytes (tests use deterministic stand-ins for coded pictures —
    the container math is what's real). ``durations_ms`` is an int
    (uniform) or a per-frame list. ``sync_every`` > 0 emits an stss
    box marking samples 1, 1+k, … as sync samples (keyframes); 0
    omits stss (ISO semantics: every sample is sync)."""
    n = len(frames)
    if n == 0:
        raise ValueError("encode_mp4 needs at least one frame")
    if isinstance(durations_ms, int):
        durations_ms = [durations_ms] * n
    if len(durations_ms) != n:
        raise ValueError("durations_ms length != frame count")
    deltas = [max(1, int(round(d * timescale / 1000.0)))
              for d in durations_ms]

    ftyp = _box(
        b"ftyp", b"isom", struct.pack(">I", 0x200), b"isom", b"iso2",
        b"mp41",
    )
    sizes = [len(f) for f in frames]
    mdat = _box(b"mdat", *[bytes(f) for f in frames])
    base = len(ftyp) + 8  # first sample's file offset

    # chunks of up to samples_per_chunk samples; stsc is the
    # run-length encoding of the per-chunk sample counts
    spc = max(1, samples_per_chunk)
    counts = [min(spc, n - i) for i in range(0, n, spc)]
    stsc_runs = []
    for ci, c in enumerate(counts, start=1):
        if not stsc_runs or stsc_runs[-1][1] != c:
            stsc_runs.append((ci, c))
    offsets, pos, si = [], base, 0
    for c in counts:
        offsets.append(pos)
        pos += sum(sizes[si:si + c])
        si += c

    stts_runs = []
    for d in deltas:
        if stts_runs and stts_runs[-1][1] == d:
            stts_runs[-1][0] += 1
        else:
            stts_runs.append([1, d])
    stts = _fbox(
        b"stts", 0, 0, struct.pack(">I", len(stts_runs)),
        *[struct.pack(">II", c, d) for c, d in stts_runs],
    )
    stsc = _fbox(
        b"stsc", 0, 0, struct.pack(">I", len(stsc_runs)),
        *[struct.pack(">III", fc, c, 1) for fc, c in stsc_runs],
    )
    stsz = _fbox(
        b"stsz", 0, 0, struct.pack(">II", 0, n),
        *[struct.pack(">I", s) for s in sizes],
    )
    stco = _fbox(
        b"stco", 0, 0, struct.pack(">I", len(offsets)),
        *[struct.pack(">I", o) for o in offsets],
    )
    # VisualSampleEntry ('mp4v'): 6 reserved + data_ref_index, then
    # the 70-byte visual fields (ISO 14496-12 §12.1.3)
    entry = _box(
        b"mp4v",
        b"\x00" * 6 + struct.pack(">H", 1),
        struct.pack(">HH", 0, 0) + b"\x00" * 12,
        struct.pack(">HH", width, height),
        struct.pack(">II", 0x00480000, 0x00480000),
        struct.pack(">I", 0), struct.pack(">H", 1),
        b"\x00" * 32,
        struct.pack(">Hh", 0x0018, -1),
    )
    stsd = _fbox(b"stsd", 0, 0, struct.pack(">I", 1), entry)
    stbl_children = [stsd, stts, stsc, stsz, stco]
    if sync_every > 0:
        syncs = list(range(1, n + 1, sync_every))
        stbl_children.append(
            _fbox(
                b"stss", 0, 0, struct.pack(">I", len(syncs)),
                *[struct.pack(">I", s_) for s_ in syncs],
            )
        )
    stbl = _box(b"stbl", *stbl_children)
    dinf = _box(
        b"dinf",
        _fbox(b"dref", 0, 0, struct.pack(">I", 1), _fbox(b"url ", 0, 1)),
    )
    minf = _box(
        b"minf", _fbox(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0)),
        dinf, stbl,
    )
    duration = sum(deltas)
    mdhd = _fbox(
        b"mdhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration),
        struct.pack(">HH", 0x55C4, 0),  # language 'und'
    )
    hdlr = _fbox(
        b"hdlr", 0, 0, struct.pack(">I", 0), b"vide", b"\x00" * 12,
        b"VideoHandler\x00",
    )
    mdia = _box(b"mdia", mdhd, hdlr, minf)
    tkhd = _fbox(
        b"tkhd", 0, 7,
        struct.pack(">IIII", 0, 0, 1, 0),
        struct.pack(">I", duration), b"\x00" * 8,
        struct.pack(">HHHH", 0, 0, 0, 0), _MP4_MATRIX,
        struct.pack(">II", width << 16, height << 16),
    )
    trak = _box(b"trak", tkhd, mdia)
    mvhd = _fbox(
        b"mvhd", 0, 0,
        struct.pack(">IIII", 0, 0, timescale, duration),
        struct.pack(">IHH", 0x00010000, 0x0100, 0), b"\x00" * 8,
        _MP4_MATRIX, b"\x00" * 24, struct.pack(">I", 2),
    )
    moov = _box(b"moov", mvhd, trak)
    return ftyp + mdat + moov


def _mp4_boxes(buf: bytes, start: int, end: int):
    """Yield (tag, payload_start, payload_end) for the boxes in
    buf[start:end]; handles 64-bit largesize and size-0 (to end)."""
    pos = start
    while pos + 8 <= end:
        size, tag = struct.unpack(">I4s", buf[pos:pos + 8])
        hdr = 8
        if size == 1:
            if pos + 16 > end:
                raise ValueError("corrupt MP4: truncated largesize")
            size = struct.unpack(">Q", buf[pos + 8:pos + 16])[0]
            hdr = 16
        elif size == 0:
            size = end - pos
        if size < hdr or pos + size > end:
            raise ValueError("corrupt MP4: box overruns container")
        yield tag, pos + hdr, pos + size
        pos += size


def _mp4_video_trak(buf: bytes, moov) -> tuple:
    """((trak_start, trak_end), (mdia_start, mdia_end)) for the trak
    whose hdlr is tagged 'vide' — falling back to the first trak with
    an mdia when none is (the shared selection demux_mp4 and
    video_header_meta both need; an audio-first mux must not win)."""
    traks = [(s, e) for t, s, e in _mp4_boxes(buf, *moov) if t == b"trak"]
    if not traks:
        raise ValueError("corrupt MP4: no trak in moov")
    chosen = None
    for ts_, te_ in traks:
        mdia = _mp4_child(buf, ts_, te_, b"mdia")
        if mdia is None:
            continue
        hdlr = _mp4_child(buf, *mdia, b"hdlr")
        if hdlr and buf[hdlr[0] + 8 : hdlr[0] + 12] == b"vide":
            return (ts_, te_), mdia
        if chosen is None:
            chosen = ((ts_, te_), mdia)
    if chosen is None:
        raise ValueError("corrupt MP4: no mdia in any trak")
    return chosen


def _mp4_child(buf: bytes, start: int, end: int, tag: bytes):
    for t, s, e in _mp4_boxes(buf, start, end):
        if t == tag:
            return s, e
    return None


def _mp4_table(buf: bytes, s: int, e: int, tag: str) -> list:
    """Entries of a full-box uint32 table (stts/stsc/stco row shapes)."""
    if e - s < 8:
        raise ValueError(f"corrupt MP4: truncated {tag}")
    (n,) = struct.unpack(">I", buf[s + 4:s + 8])
    per = {"stts": 2, "stsc": 3, "stco": 1}[tag]
    need = s + 8 + 4 * per * n
    if need > e:
        raise ValueError(f"corrupt MP4: {tag} shorter than its count")
    vals = struct.unpack(f">{per * n}I", buf[s + 8:need])
    return [vals[i * per:(i + 1) * per] for i in range(n)]


@_corrupt_as_valueerror
def demux_mp4(payload: bytes, keyframes_only: bool = False) -> list:
    """MP4 bytes → [(ts_ms, sample_bytes)] for the first video trak
    (first trak if none is tagged 'vide'), timestamps from stts in
    mdhd-timescale units converted to ms; chunk offsets from stco or
    co64 (64-bit — what >4 GB captures ship). ``keyframes_only``
    restricts to the stss sync-sample set (absent stss = every sample
    is sync, per ISO 14496-12). Raises ValueError on non-MP4 or
    corrupt/truncated structures."""
    buf = bytes(payload)
    if sniff(buf) != "mp4":
        raise ValueError("not an MP4 (no ftyp)")
    moov = _mp4_child(buf, 0, len(buf), b"moov")
    if moov is None:
        raise ValueError("corrupt MP4: no moov box")
    _trak, chosen = _mp4_video_trak(buf, moov)
    mdhd = _mp4_child(buf, *chosen, b"mdhd")
    if mdhd is None or mdhd[1] - mdhd[0] < 24:
        raise ValueError("corrupt MP4: missing/truncated mdhd")
    version = buf[mdhd[0]]
    tsc_off = mdhd[0] + (20 if version == 1 else 12)
    (timescale,) = struct.unpack(">I", buf[tsc_off:tsc_off + 4])
    if timescale == 0:
        raise ValueError("corrupt MP4: zero timescale")
    minf = _mp4_child(buf, *chosen, b"minf")
    stbl = minf and _mp4_child(buf, *minf, b"stbl")
    if not stbl:
        raise ValueError("corrupt MP4: no stbl")

    stts = _mp4_child(buf, *stbl, b"stts")
    stsc = _mp4_child(buf, *stbl, b"stsc")
    stsz = _mp4_child(buf, *stbl, b"stsz")
    stco = _mp4_child(buf, *stbl, b"stco")
    co64 = _mp4_child(buf, *stbl, b"co64")
    if not (stts and stsc and stsz and (stco or co64)):
        raise ValueError("corrupt MP4: incomplete sample tables")

    s, e = stsz
    if e - s < 12:
        raise ValueError("corrupt MP4: truncated stsz")
    fixed, n = struct.unpack(">II", buf[s + 4:s + 12])
    if fixed:
        # exact bound BEFORE materializing: n fixed-size samples must
        # fit in the file, so a corrupt header (n=0xFFFFFFFF) raises
        # instead of allocating a multi-GB list and OOM-killing the
        # caller, which expects only ValueError (round-4 review fix)
        if n * fixed > len(buf):
            raise ValueError(
                "corrupt MP4: stsz declares more sample bytes than "
                "the file holds"
            )
        sizes = [fixed] * n
    else:
        if s + 12 + 4 * n > e:
            raise ValueError("corrupt MP4: stsz shorter than its count")
        sizes = list(struct.unpack(f">{n}I", buf[s + 12:s + 12 + 4 * n]))

    # n is now bounded by the file size (both stsz branches above), so
    # clipping each stts run at the n samples we actually need bounds
    # the expansion too — a corrupt run count (cnt=0xFFFFFFFF) would
    # otherwise demand a ~34 GB list (round-4 review fix)
    deltas = []
    for cnt, d in _mp4_table(buf, *stts, "stts"):
        remaining = n - len(deltas)
        if remaining <= 0:
            break
        deltas.extend([d] * min(cnt, remaining))
    if len(deltas) < n:
        raise ValueError("corrupt MP4: stts covers fewer samples "
                         "than stsz")
    if co64:
        # 64-bit chunk offsets — what real >4 GB captures ship
        s, e = co64
        if e - s < 8:
            raise ValueError("corrupt MP4: truncated co64")
        (nc,) = struct.unpack(">I", buf[s + 4:s + 8])
        if s + 8 + 8 * nc > e:
            raise ValueError("corrupt MP4: co64 shorter than its count")
        offsets = list(struct.unpack(f">{nc}Q", buf[s + 8:s + 8 + 8 * nc]))
    else:
        offsets = [o for (o,) in _mp4_table(buf, *stco, "stco")]
    runs = _mp4_table(buf, *stsc, "stsc")
    if not runs or runs[0][0] != 1:
        raise ValueError("corrupt MP4: stsc must start at chunk 1")
    if any(runs[i][0] >= runs[i + 1][0] for i in range(len(runs) - 1)):
        # the spec requires strictly increasing first_chunk; the
        # cursor walk below depends on it
        raise ValueError("corrupt MP4: stsc first_chunk not increasing")

    # single merged walk over the sorted runs — rescanning the run
    # list per chunk was O(chunks × runs), quadratic for muxes with
    # one run per chunk (round-4 review fix)
    samples, ts, si, ri = [], 0, 0, 0
    for ci, chunk_off in enumerate(offsets, start=1):
        while ri + 1 < len(runs) and runs[ri + 1][0] <= ci:
            ri += 1
        spc = runs[ri][1]
        pos = chunk_off
        for _ in range(spc):
            if si >= n:
                break
            size = sizes[si]
            if pos + size > len(buf):
                raise ValueError("corrupt MP4: sample overruns mdat")
            samples.append(
                (int(round(ts * 1000.0 / timescale)), buf[pos:pos + size])
            )
            pos += size
            ts += deltas[si]
            si += 1
        if si >= n:
            break
    if si < n:
        raise ValueError("corrupt MP4: chunks cover fewer samples "
                         "than stsz declares")
    if keyframes_only:
        stss = _mp4_child(buf, *stbl, b"stss")
        if stss is not None:
            s, e = stss
            if e - s < 8:
                raise ValueError("corrupt MP4: truncated stss")
            (nk,) = struct.unpack(">I", buf[s + 4:s + 8])
            if s + 8 + 4 * nk > e:
                raise ValueError(
                    "corrupt MP4: stss shorter than its count"
                )
            keep = struct.unpack(f">{nk}I", buf[s + 8:s + 8 + 4 * nk])
            samples = [
                samples[k - 1] for k in keep if 1 <= k <= len(samples)
            ]
    return samples


def _clamp_ms(x) -> int:
    """Clamp a computed duration to a non-negative int32: corrupt
    headers (an OGG continued-packet granule of -1 reads as 2^64-1, a
    multi-GB CBR estimate, a WebM +inf Duration) must yield a bounded
    value for the Arrow 'duration_ms int' columns, not overflow the
    batch cast (review fix)."""
    try:
        v = int(round(x))
    except (OverflowError, ValueError):  # inf / nan
        return 2**31 - 1
    return max(0, min(v, 2**31 - 1))


# MPEG1/2/2.5 Layer III tables (ISO 11172-3 / 13818-3)
_MP3_BITRATES_V1 = (0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                    192, 224, 256, 320)
_MP3_BITRATES_V2 = (0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112,
                    128, 144, 160)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}


@_corrupt_as_valueerror
def audio_header_meta(payload: bytes) -> dict:
    """Header-only audio metadata — {format, sample_rate, channels,
    duration_ms, bitrate_kbps} WITHOUT decoding samples: the admission
    filter an audio training pipeline runs per blob (drop sub-second
    clips, cap hours, split narrowband). WAV reads the RIFF header;
    AIFF/AIFC reads COMM (80-bit extended-float rate); AU reads the
    .snd header (duration from data size / encoding width);
    MP3 parses the first Layer-III frame header after any ID3v2 tag
    (Xing/Info frame count when present, else CBR byte estimate);
    FLAC reads STREAMINFO; OGG reads the Vorbis/Opus identification
    header and takes duration from the LAST page's granule position.
    Raises ValueError for non-audio/corrupt payloads."""
    fmt = sniff(payload)
    if fmt == "wav":
        with wave.open(io.BytesIO(payload), "rb") as f:
            rate, ch, n, sw = (
                f.getframerate(), f.getnchannels(), f.getnframes(),
                f.getsampwidth(),
            )
        return {
            "format": "wav", "sample_rate": rate, "channels": ch,
            "duration_ms": _clamp_ms(1000.0 * n / rate) if rate else 0,
            "bitrate_kbps": (
                rate * ch * 8 * sw // 1000 if rate else 0  # real PCM width
            ),
        }
    if fmt == "aiff":
        ch, n, bits, rate, comp, _data = _parse_aiff(payload)
        # STORED bitrate: G.711-compressed AIFC carries 8 bits/sample
        # on disk regardless of what COMM's sampleSize records
        # (common tooling writes the decompressed 16 there) — keeps
        # the admission filter consistent with the AU branch
        # (review fix)
        stored_bits = 8 if comp in (b"ulaw", b"ULAW", b"alaw",
                                    b"ALAW") else bits
        return {
            "format": "aiff", "sample_rate": rate, "channels": ch,
            "duration_ms": _clamp_ms(1000.0 * (n or 0) / rate),
            "bitrate_kbps": rate * ch * stored_bits // 1000,
        }
    if fmt == "au":
        off, size, enc, rate, ch = struct.unpack(">5I", payload[4:24])
        if enc not in _AU_ENCODINGS or not rate or not ch:
            raise ValueError("corrupt AU header")
        sw = _AU_ENCODINGS[enc][1]
        # only 0xFFFFFFFF means unknown; 0 is an empty clip
        nbytes = (len(payload) - off) if size == 0xFFFFFFFF else size
        n = max(nbytes, 0) // (sw * ch)
        return {
            "format": "au", "sample_rate": rate, "channels": ch,
            "duration_ms": _clamp_ms(1000.0 * n / rate),
            "bitrate_kbps": rate * ch * 8 * sw // 1000,
        }
    if fmt == "flac":
        btype = payload[4] & 0x7F
        if btype != 0:
            raise ValueError("corrupt FLAC: first block not STREAMINFO")
        info = payload[8:42]
        if len(info) < 18:
            raise ValueError("corrupt FLAC: truncated STREAMINFO")
        v = int.from_bytes(info[10:18], "big")
        rate = v >> 44
        ch = ((v >> 41) & 7) + 1
        total = v & ((1 << 36) - 1)
        if rate == 0:
            raise ValueError("corrupt FLAC: zero sample rate")
        return {
            "format": "flac", "sample_rate": rate, "channels": ch,
            "duration_ms": _clamp_ms(1000.0 * total / rate),
            "bitrate_kbps": 0,  # lossless: not header-derivable
        }
    if fmt == "ogg":
        nsegs = payload[26]
        body = payload[27 + nsegs :]
        # the last page's granule position gives the duration — but a
        # bare rfind can false-sync on 'OggS' bytes INSIDE compressed
        # packet data (round-4 ADVICE): validate the candidate as a
        # real page header (version byte 0, header_type flags fit in
        # bits 0-2, full 27-byte header present) and scan backwards to
        # the previous match on failure.
        last = payload.rfind(b"OggS")
        while last > 0 and not (
            last + 27 <= len(payload)
            and payload[last + 4] == 0  # stream_structure_version
            and payload[last + 5] <= 0x07  # header_type flag bits
        ):
            last = payload.rfind(b"OggS", 0, last)
        granule = int.from_bytes(
            payload[last + 6 : last + 14], "little"
        )
        if body[:7] == b"\x01vorbis":
            ch = body[11]
            rate = int.from_bytes(body[12:16], "little")
            if rate == 0:
                raise ValueError("corrupt OGG: zero sample rate")
            dur = _clamp_ms(1000.0 * granule / rate)
        elif body[:8] == b"OpusHead":
            ch = body[9]
            pre_skip = int.from_bytes(body[10:12], "little")
            rate = 48000  # opus granules always count at 48 kHz
            dur = _clamp_ms(1000.0 * max(0, granule - pre_skip) / 48000)
        else:
            raise ValueError("unsupported OGG codec (not Vorbis/Opus)")
        return {
            "format": "ogg", "sample_rate": rate, "channels": ch,
            "duration_ms": dur, "bitrate_kbps": 0,
        }
    if fmt == "mp3":
        pos = 0
        if payload[:3] == b"ID3":  # syncsafe 28-bit tag length
            sz = 0
            for b in payload[6:10]:
                sz = (sz << 7) | (b & 0x7F)
            pos = 10 + sz
        # scan for the first frame sync (junk between tag and audio
        # is common in the wild)
        while pos + 4 <= len(payload):
            if payload[pos] == 0xFF and (payload[pos + 1] & 0xE0) == 0xE0:
                break
            pos += 1
        if pos + 4 > len(payload):
            raise ValueError("corrupt MP3: no frame sync")
        b1, b2, b3 = payload[pos + 1], payload[pos + 2], payload[pos + 3]
        version = (b1 >> 3) & 3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (b1 >> 1) & 3   # 1=Layer III
        if version == 1 or layer != 1:
            raise ValueError(
                "unsupported MPEG audio (only Layer III parsed)"
            )
        br_idx = b2 >> 4
        sr_idx = (b2 >> 2) & 3
        if br_idx in (0, 15) or sr_idx == 3:
            raise ValueError("corrupt MP3: free/bad bitrate or rate")
        table = _MP3_BITRATES_V1 if version == 3 else _MP3_BITRATES_V2
        kbps = table[br_idx]
        rate = _MP3_RATES[version][sr_idx]
        mono = ((b3 >> 6) & 3) == 3
        ch = 1 if mono else 2
        spf = 1152 if version == 3 else 576  # Layer III samples/frame
        # Xing/Info (VBR) header: frame count gives exact duration
        side = (
            (17 if mono else 32) if version == 3 else (9 if mono else 17)
        )
        tag_off = pos + 4 + side
        dur = None
        if payload[tag_off : tag_off + 4] in (b"Xing", b"Info"):
            flags = int.from_bytes(
                payload[tag_off + 4 : tag_off + 8], "big"
            )
            if flags & 1:
                n_frames = int.from_bytes(
                    payload[tag_off + 8 : tag_off + 12], "big"
                )
                dur = _clamp_ms(1000.0 * n_frames * spf / rate)
        if dur is None:  # CBR estimate over the audio bytes
            dur = _clamp_ms((len(payload) - pos) * 8.0 / kbps)
        return {
            "format": "mp3", "sample_rate": rate, "channels": ch,
            "duration_ms": dur, "bitrate_kbps": kbps,
        }
    raise ValueError(f"not a parseable audio payload (sniffed {fmt!r})")


@_corrupt_as_valueerror
def image_meta(payload: bytes) -> dict:
    """Header-only image metadata — {format, width, height, n_frames,
    flags} WITHOUT decoding pixel data. This is the filter a crawl
    pipeline runs on every image (drop icons, cap megapixels, split
    stills from animations) before paying any decode cost, so it must
    be cheap and cover formats beyond the decodable set: WebP gets
    real VP8X/VP8/VP8L header parsing (canvas dims, alpha/animation/
    lossless flags) even though its pixel decode needs libwebp.
    ``flags`` is a sorted comma-joined subset of {alpha, animated,
    interlaced, lossless, palette, progressive}. Raises ValueError on
    non-image or corrupt-header payloads."""
    fmt = sniff(payload)
    flags: set[str] = set()
    n_frames = 1
    if fmt == "png":
        if payload[12:16] != b"IHDR":
            raise ValueError("corrupt PNG: first chunk not IHDR")
        w, h, depth, color, _c, _f, inter = struct.unpack(
            ">IIBBBBB", payload[16:29]
        )
        if color == 3:
            flags.add("palette")
        if color in (4, 6):
            flags.add("alpha")
        if inter == 1:
            flags.add("interlaced")
        n_frames, animated = png_animation_info(payload)
        if animated:
            flags.add("animated")
    elif fmt == "gif":
        w, h = struct.unpack("<HH", payload[6:10])
        flags.add("palette")
        n_frames = gif_frame_count(payload)
        if n_frames > 1:
            flags.add("animated")
    elif fmt == "bmp":
        w, h = struct.unpack("<ii", payload[18:26])
        h = abs(h)  # negative height = top-down row order (legal)
        if w < 0:  # negative width is never legal (review fix)
            raise ValueError("corrupt BMP: negative width")
    elif fmt == "ico":
        entries = _ico_entries(payload)
        w, h, _b, _o, _s = max(
            entries, key=lambda e: (e[0] * e[1], e[2])
        )
        n_frames = len(entries)  # directory sizes, not animation
    elif fmt == "jpeg":
        pos = 2
        w = h = None
        while pos + 4 <= len(payload):
            if payload[pos] != 0xFF:
                raise ValueError("bad JPEG marker stream")
            marker = payload[pos + 1]
            pos += 2
            if marker in (0x01,) or 0xD0 <= marker <= 0xD9:
                continue
            (seglen,) = struct.unpack(">H", payload[pos : pos + 2])
            # every SOFn shares the >BHH frame-header layout; a
            # header-only dimension filter must read dims even from
            # codings the pixel decoder rejects (arithmetic/lossless)
            # — review fix: SOF3/5..15 previously reported "no SOF"
            if 0xC0 <= marker <= 0xCF and marker not in (
                0xC4, 0xC8, 0xCC,  # DHT / JPG-reserved / DAC
            ):
                _prec, h, w = struct.unpack(
                    ">BHH", payload[pos + 2 : pos + 7]
                )
                if marker in (0xC2, 0xC6, 0xCA, 0xCE):
                    flags.add("progressive")
                break
            if marker == 0xDA:
                break  # entropy data, no SOF seen
            pos += seglen
        if w is None:
            raise ValueError("truncated JPEG (no SOF)")
    elif fmt == "webp":
        fourcc = payload[12:16]
        body = payload[20:]
        if fourcc == b"VP8X":
            fl = body[0]
            if fl & 0x10:
                flags.add("alpha")
            # walk the RIFF chunks by their length fields — substring
            # scans over the whole payload counted 'ANMF'/'VP8L' byte
            # patterns inside compressed frame data (review fix)
            n_anmf = 0
            cpos = 12
            while cpos + 8 <= len(payload):
                cc = payload[cpos : cpos + 4]
                clen = int.from_bytes(payload[cpos + 4 : cpos + 8],
                                      "little")
                if cc == b"ANMF":
                    n_anmf += 1
                    # the frame bitstream is a sub-chunk after the
                    # 16-byte ANMF frame header
                    if payload[cpos + 24 : cpos + 28] == b"VP8L":
                        flags.add("lossless")
                elif cc == b"VP8L":
                    flags.add("lossless")
                cpos += 8 + clen + (clen & 1)  # chunks pad to even
            if fl & 0x02:
                flags.add("animated")
                n_frames = n_anmf or 1
            w = 1 + int.from_bytes(body[4:7], "little")
            h = 1 + int.from_bytes(body[7:10], "little")
        elif fourcc == b"VP8L":
            if body[0] != 0x2F:
                raise ValueError("corrupt WebP: bad VP8L signature")
            bits = int.from_bytes(body[1:5], "little")
            w = (bits & 0x3FFF) + 1
            h = ((bits >> 14) & 0x3FFF) + 1
            if (bits >> 28) & 1:
                flags.add("alpha")
            flags.add("lossless")
        elif fourcc == b"VP8 ":
            if body[3:6] != b"\x9d\x01\x2a":
                raise ValueError("corrupt WebP: bad VP8 start code")
            w = int.from_bytes(body[6:8], "little") & 0x3FFF
            h = int.from_bytes(body[8:10], "little") & 0x3FFF
        else:
            raise ValueError(
                f"corrupt WebP: unknown first chunk {fourcc!r}"
            )
    elif fmt == "pnm":
        fields, _pos = _pnm_header(payload, 2)
        w, h = fields
    elif fmt == "xbm":
        text = payload[:4096].decode("ascii", errors="replace")
        mw = re.search(r"#define\s+\w*_?width\s+(\d+)", text)
        mh = re.search(r"#define\s+\w*_?height\s+(\d+)", text)
        if not mw or not mh:
            raise ValueError("corrupt XBM: missing size defines")
        w, h = int(mw.group(1)), int(mh.group(1))
    elif fmt == "ras":
        _m, w, h, depth, _l, _t, _mt, _ml = struct.unpack(
            ">8i", payload[:32]
        )
        if depth == 32:
            flags.add("alpha")
    elif fmt == "sgi":
        dimension, w, h, zsize = struct.unpack(">4H", payload[4:12])
        if dimension == 3 and zsize >= 4:
            flags.add("alpha")
    elif fmt == "tiff":
        le = payload[:2] == b"II"
        e = "<" if le else ">"
        (ifd,) = struct.unpack(e + "I", payload[4:8])
        (cnt,) = struct.unpack(e + "H", payload[ifd:ifd + 2])
        w = h = 0
        for i in range(cnt):
            tag, vals = _tiff_ifd_values(payload, ifd + 2 + 12 * i, le)
            if vals is None:
                continue
            if tag == 256:
                w = vals[0]
            elif tag == 257:
                h = vals[0]
            elif tag == 277 and vals[0] == 4:
                flags.add("alpha")
            elif tag == 262 and vals[0] == 3:
                flags.add("palette")
    elif fmt == "exr":
        # header attributes only: find dataWindow
        pos2 = 8
        w = h = 0
        while pos2 < len(payload) and payload[pos2] != 0:
            e1 = payload.index(b"\x00", pos2)
            name = payload[pos2:e1]
            pos2 = payload.index(b"\x00", e1 + 1) + 1
            (sz,) = struct.unpack("<I", payload[pos2:pos2 + 4])
            pos2 += 4
            if name == b"dataWindow" and sz == 16:
                x0, y0, x1, y1 = struct.unpack(
                    "<4i", payload[pos2:pos2 + 16]
                )
                w, h = x1 - x0 + 1, y1 - y0 + 1
            pos2 += sz
        flags.add("lossless")
    else:
        raise ValueError(f"not an image (sniffed {fmt!r})")
    if w == 0 or h == 0:
        raise ValueError(f"corrupt {fmt}: zero dimension")
    return {
        "format": fmt,
        "width": int(w),
        "height": int(h),
        "n_frames": int(n_frames),
        "flags": ",".join(sorted(flags)),
    }


def _ebml_vint(buf: bytes, pos: int, is_id: bool):
    """(value, data_bits, next_pos) for one EBML variable-length
    integer. IDs keep the length-marker bit (matching the spec's
    element-ID constants); sizes strip it."""
    if pos >= len(buf) or buf[pos] == 0:
        raise ValueError("corrupt EBML: invalid varint")
    n = 9 - buf[pos].bit_length()
    raw = buf[pos : pos + n]
    if len(raw) < n:
        raise ValueError("corrupt EBML: truncated varint")
    val = int.from_bytes(raw, "big")
    if not is_id:
        val &= (1 << (7 * n)) - 1
    return val, 7 * n, pos + n


def _ebml_children(buf: bytes, start: int, end: int):
    """Yield (element_id, payload_start, payload_end) for the EBML
    elements in buf[start:end]; an all-ones (unknown) size extends to
    the enclosing end (streamed Segments use this)."""
    pos = start
    while pos < end:
        eid, _, pos = _ebml_vint(buf, pos, is_id=True)
        size, bits, pos = _ebml_vint(buf, pos, is_id=False)
        if size == (1 << bits) - 1:  # unknown size
            size = end - pos
        yield eid, pos, min(pos + size, end)
        pos += size


def _ebml_uint(buf: bytes, s: int, e: int) -> int:
    return int.from_bytes(buf[s:e], "big")


def _ebml_float(buf: bytes, s: int, e: int) -> float:
    n = e - s
    if n == 4:
        return struct.unpack(">f", buf[s:e])[0]
    if n == 8:
        return struct.unpack(">d", buf[s:e])[0]
    raise ValueError(f"corrupt EBML: float of {n} bytes")


@_corrupt_as_valueerror
def video_header_meta(payload: bytes) -> dict:
    """Header-only video metadata — {format, width, height,
    duration_ms, codec} without touching coded frames: the video leg
    of the pre-decode admission filter. MP4 reads mvhd (timescale +
    duration), the first trak's tkhd 16.16-fixed dims, and the stsd
    sample-entry fourcc; WebM/Matroska walks the EBML tree for
    Info.TimecodeScale/Duration and the first video TrackEntry's
    PixelWidth/PixelHeight/CodecID."""
    fmt = sniff(payload)
    if fmt == "mp4":
        moov = _mp4_child(payload, 0, len(payload), b"moov")
        if not moov:
            raise ValueError("corrupt MP4: no moov")
        mvhd = _mp4_child(payload, *moov, b"mvhd")
        if not mvhd:
            raise ValueError("corrupt MP4: no mvhd")
        s, _e = mvhd
        if payload[s] == 1:  # version 1: 64-bit times
            timescale = _ebml_uint(payload, s + 20, s + 24)
            duration = _ebml_uint(payload, s + 24, s + 32)
        else:
            timescale = _ebml_uint(payload, s + 12, s + 16)
            duration = _ebml_uint(payload, s + 16, s + 20)
        if timescale == 0:
            raise ValueError("corrupt MP4: zero timescale")
        # the 'vide' trak, not the first one — an audio-first mux must
        # not report 0x0 dims and 'mp4a' (review fix; shared helper
        # with demux_mp4)
        trak, mdia = _mp4_video_trak(payload, moov)
        w = h = 0
        codec = ""
        if trak:
            tkhd = _mp4_child(payload, *trak, b"tkhd")
            if tkhd:
                ts, _te = tkhd
                off = ts + (96 if payload[ts] == 1 else 84) - 8
                w = _ebml_uint(payload, off, off + 4) >> 16
                h = _ebml_uint(payload, off + 4, off + 8) >> 16
            stbl = mdia
            for tag in (b"minf", b"stbl", b"stsd"):
                stbl = _mp4_child(payload, *stbl, tag)
                if not stbl:
                    break
            if stbl:
                ss, se = stbl
                if se - ss >= 16:
                    codec = payload[ss + 12 : ss + 16].decode(
                        "ascii", "replace"
                    )
        return {
            "format": "mp4", "width": int(w), "height": int(h),
            "duration_ms": _clamp_ms(1000.0 * duration / timescale),
            "codec": codec,
        }
    if fmt == "webm":
        tscale, dur_units = 1_000_000, None
        w = h = 0
        codec = ""
        for eid, s, e in _ebml_children(payload, 0, len(payload)):
            if eid != 0x18538067:  # Segment
                continue
            for eid2, s2, e2 in _ebml_children(payload, s, e):
                if eid2 == 0x1549A966:  # Info
                    for eid3, s3, e3 in _ebml_children(payload, s2, e2):
                        if eid3 == 0x2AD7B1:
                            tscale = _ebml_uint(payload, s3, e3)
                        elif eid3 == 0x4489:
                            dur_units = _ebml_float(payload, s3, e3)
                elif eid2 == 0x1654AE6B:  # Tracks
                    for eid3, s3, e3 in _ebml_children(payload, s2, e2):
                        if eid3 != 0xAE or w:  # first video TrackEntry
                            continue
                        ttype, tcodec, tw, th = 0, "", 0, 0
                        for eid4, s4, e4 in _ebml_children(
                            payload, s3, e3
                        ):
                            if eid4 == 0x83:
                                ttype = _ebml_uint(payload, s4, e4)
                            elif eid4 == 0x86:
                                tcodec = payload[s4:e4].decode(
                                    "ascii", "replace"
                                )
                            elif eid4 == 0xE0:  # Video
                                for eid5, s5, e5 in _ebml_children(
                                    payload, s4, e4
                                ):
                                    if eid5 == 0xB0:
                                        tw = _ebml_uint(payload, s5, e5)
                                    elif eid5 == 0xBA:
                                        th = _ebml_uint(payload, s5, e5)
                        if ttype == 1:
                            w, h, codec = tw, th, tcodec
        if tscale == 0:
            raise ValueError("corrupt WebM: zero timecode scale")
        dur_ms = (
            _clamp_ms(dur_units * tscale / 1e6)
            if dur_units is not None else 0
        )
        return {
            "format": "webm", "width": int(w), "height": int(h),
            "duration_ms": dur_ms, "codec": codec,
        }
    raise ValueError(f"not a parseable video payload (sniffed {fmt!r})")


def decode_image(payload: bytes) -> np.ndarray:
    """Sniff-dispatched image decode (png/bmp/gif/ico/jpeg/pnm/xbm/
    ras/sgi/tiff/exr) → uint8 array."""
    fmt = sniff(payload)
    if fmt == "png":
        return decode_png(payload)
    if fmt == "bmp":
        return decode_bmp(payload)
    if fmt == "gif":
        return decode_gif(payload)
    if fmt == "ico":
        return decode_ico(payload)
    if fmt == "jpeg":
        return decode_jpeg(payload)
    if fmt == "pnm":
        return decode_pnm(payload)
    if fmt == "xbm":
        return decode_xbm(payload)
    if fmt == "ras":
        return decode_ras(payload)
    if fmt == "sgi":
        return decode_sgi(payload)
    if fmt == "tiff":
        return decode_tiff(payload)
    if fmt == "exr":
        # HDR floats → display uint8 (clamped; decode_exr keeps range)
        return (np.clip(decode_exr(payload), 0.0, 1.0) * 255.0
                ).round().astype(np.uint8)
    raise ValueError(f"not a decodable image (sniffed {fmt!r})")


# --- transforms ------------------------------------------------------------


def resize_nearest(arr: np.ndarray, w: int, h: int) -> np.ndarray:
    """Nearest-neighbor resize, pure integer index mapping (one fancy-
    index gather, no Python per-pixel work)."""
    H, W = arr.shape[:2]
    ys = (np.arange(h) * H) // h
    xs = (np.arange(w) * W) // w
    return arr[ys][:, xs]


def audio_features(x: np.ndarray, rate: int) -> dict:
    """Classic scalar front-end features over decoded samples: time
    domain (rms, zero-crossing rate, duration) plus the spectral
    summary a training-data quality filter keys on — centroid, 85%
    rolloff, bandwidth, and flatness (geometric/arithmetic mean ratio:
    ~1 for noise, →0 for tonal content), all from one rfft over the
    Hann-windowed signal. Pure numpy; silence returns zeros."""
    if x.size == 0:
        return {
            "rms": 0.0, "zcr": 0.0, "duration_ms": 0,
            "spectral_centroid_hz": 0.0, "spectral_rolloff_hz": 0.0,
            "spectral_bandwidth_hz": 0.0, "spectral_flatness": 0.0,
        }
    rms = float(np.sqrt(np.mean(x * x)))
    zcr = float(np.mean(np.abs(np.diff(np.signbit(x).astype(np.int8)))))
    out = {
        "rms": rms,
        "zcr": zcr,
        "duration_ms": int(round(1000.0 * x.size / rate)),
    }
    win = x.astype(np.float64) * np.hanning(x.size)
    mag = np.abs(np.fft.rfft(win))
    power = mag * mag
    total = float(power.sum())
    if total <= 0.0:
        out.update(
            spectral_centroid_hz=0.0, spectral_rolloff_hz=0.0,
            spectral_bandwidth_hz=0.0, spectral_flatness=0.0,
        )
        return out
    freqs = np.fft.rfftfreq(x.size, d=1.0 / rate)
    centroid = float((freqs * power).sum() / total)
    cum = np.cumsum(power)
    rolloff = float(freqs[int(np.searchsorted(cum, 0.85 * total))])
    bandwidth = float(
        np.sqrt(((freqs - centroid) ** 2 * power).sum() / total)
    )
    # flatness over the power spectrum, excluding DC (a constant
    # offset would read as tonal); epsilon guards log(0) bins. A
    # single-sample signal has only the DC bin — flatness is 0 by
    # convention, not NaN-from-an-empty-mean (review fix)
    p = power[1:] + 1e-20
    flatness = (
        float(np.exp(np.mean(np.log(p))) / np.mean(p))
        if p.size else 0.0
    )
    out.update(
        spectral_centroid_hz=centroid,
        spectral_rolloff_hz=rolloff,
        spectral_bandwidth_hz=bandwidth,
        spectral_flatness=flatness,
    )
    return out
