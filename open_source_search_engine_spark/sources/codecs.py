"""Image codecs from the Python stdlib — no Pillow needed.

PNG is zlib-deflate + five per-row filters (implemented here from the
PNG spec, RFC 2083 §6), and uncompressed BMP is a header parse,
alongside GIF87a/89a (LZW), ICO, netpbm/XBM, Sun Raster, SGI, TIFF and
OpenEXR. WebP is parsed for header metadata only; JPEG and WebP
payloads are sniffed but not decoded (``decode_image`` and
``image_meta`` raise ValueError for JPEG).

Everything is numpy-vectorized where the format allows: PNG's Up
filter and all encoders are whole-row operations; Sub/Average/Paeth
unfiltering is inherently sequential per pixel along a row (each
pixel needs the reconstructed left neighbor) but vectorizes across
channels; rows stream in one pass.

All functions are pure bytes→array/array→bytes kernels; they never
touch Spark. No search path uses this module.
"""

from __future__ import annotations

import re
import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _corrupt_as_valueerror(fn):
    """Uniform decode contract: corrupt payloads surface as ValueError
    — never IndexError/KeyError/struct.error/zlib.error/EOFError — so
    a caller that decodes many blobs can skip a bad one with a single
    ``except ValueError``."""
    import functools

    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        try:
            return fn(*args, **kwargs)
        except ValueError:
            raise
        except (
            IndexError, KeyError, struct.error, zlib.error,
            EOFError, OverflowError,
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
    """Magic-byte format sniff: 'png' | 'gif' | 'bmp' | 'jpeg' |
    'webp' | 'ico' | 'pnm' | 'xbm' | 'ras' | 'sgi' | 'tiff' | 'exr' |
    'unknown'."""
    if payload[:8] == PNG_SIG:
        return "png"
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return "gif"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    if payload[:4] == b"RIFF" and payload[8:12] == b"WEBP":
        return "webp"
    if (
        payload[:4] in (b"\x00\x00\x01\x00", b"\x00\x00\x02\x00")
        and len(payload) >= 6
        and payload[4] | payload[5]  # at least one directory entry
    ):
        return "ico"
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
    from the Graphic Control delays (1/100 s units)."""
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
    interlaced, lossless, palette}. Raises ValueError on
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


def decode_image(payload: bytes) -> np.ndarray:
    """Sniff-dispatched image decode (png/bmp/gif/ico/pnm/xbm/ras/sgi/
    tiff/exr) → uint8 array."""
    fmt = sniff(payload)
    if fmt == "png":
        return decode_png(payload)
    if fmt == "bmp":
        return decode_bmp(payload)
    if fmt == "gif":
        return decode_gif(payload)
    if fmt == "ico":
        return decode_ico(payload)
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
