"""Regression pins for the round-4 ADVICE items fixed in round 5:
``decode_gif`` resolves the background-color index against the GLOBAL
color table (GIF89a spec) even when the frame carries a local palette,
and clears the background by resolved color, not by index.
"""

from __future__ import annotations

import numpy as np

from open_source_search_engine_spark.sources import codecs as C


def test_gif_background_resolves_against_global_palette():
    # logical screen 3x3, GCT = [red, green], bg index 1 (green);
    # one 1x1 frame at (1, 1) with a LOCAL palette [blue, white]
    # drawing index 0 (blue). Pre-fix the bg index resolved against
    # the LOCAL palette and painted the background white.
    lzw = C._lzw_encode(b"\x00", 2)
    enc = bytearray(b"GIF89a")
    enc += (3).to_bytes(2, "little") + (3).to_bytes(2, "little")
    enc += bytes([0x80, 1, 0])  # GCT present (2 entries), bg=1
    enc += bytes([255, 0, 0, 0, 255, 0])  # red, green
    enc += bytes([0x2C]) + (1).to_bytes(2, "little") * 2  # left=top=1
    enc += (1).to_bytes(2, "little") * 2  # 1x1
    enc += bytes([0x80])  # local color table, 2 entries
    enc += bytes([0, 0, 255, 255, 255, 255])  # blue, white
    enc += bytes([2, len(lzw)]) + lzw + bytes([0, 0x3B])
    out = C.decode_gif(bytes(enc))
    assert out.shape == (3, 3, 3)
    assert (out[1, 1] == np.array([0, 0, 255])).all()  # local blue
    bg = np.delete(out.reshape(-1, 3), 4, axis=0)
    assert (bg == np.array([0, 255, 0])).all()  # GLOBAL green


def _gif_local_palette_transparent(gct, bg, local_pal, transp, pixel_idx):
    """3x3 logical screen, GCT ``gct`` with background index ``bg``,
    one 1x1 frame at (1, 1) carrying a LOCAL palette ``local_pal``, a
    GCE transparency flag on index ``transp``, drawing ``pixel_idx``."""
    lzw = C._lzw_encode(bytes([pixel_idx]), 2)
    enc = bytearray(b"GIF89a")
    enc += (3).to_bytes(2, "little") + (3).to_bytes(2, "little")
    enc += bytes([0x80, bg, 0])  # GCT present (2 entries)
    for rgb in gct:
        enc += bytes(rgb)
    enc += bytes([0x21, 0xF9, 4, 0x01, 0, 0, transp, 0])  # GCE
    enc += bytes([0x2C]) + (1).to_bytes(2, "little") * 2  # left=top=1
    enc += (1).to_bytes(2, "little") * 2  # 1x1
    enc += bytes([0x80])  # local color table, 2 entries
    for rgb in local_pal:
        enc += bytes(rgb)
    enc += bytes([2, len(lzw)]) + lzw + bytes([0, 0x3B])
    return C.decode_gif(bytes(enc))


def test_gif_bg_transparency_is_by_color_not_index_collision():
    """Round-5 review fix: bg indexes the GLOBAL palette, the GCE
    transparent index the frame's ACTIVE (here local) palette — two
    different index spaces. Background clearance must compare the
    RESOLVED colors, not the raw indices."""
    red, green = (255, 0, 0), (0, 255, 0)
    blue, white = (0, 0, 255), (255, 255, 255)
    # indices collide (bg=1, transp=1) but colors differ (green vs
    # white): the background must stay OPAQUE. Pre-fix the index
    # collision cleared every uncovered pixel.
    out = _gif_local_palette_transparent(
        [red, green], 1, [blue, white], 1, 0
    )
    assert out.shape == (3, 3, 4)
    assert (out[:, :, 3] == 255).all()
    assert (out[1, 1, :3] == np.array(blue)).all()
    assert (out[0, 0, :3] == np.array(green)).all()
    # colors match (bg green == local transparent green) with indices
    # DIFFERING (bg=1, transp=0): the background must clear. Pre-fix
    # the index mismatch kept it opaque.
    out = _gif_local_palette_transparent(
        [red, green], 1, [green, white], 0, 1
    )
    assert out.shape == (3, 3, 4)
    assert out[0, 0, 3] == 0  # uncovered background is clear
    assert out[1, 1, 3] == 255  # drawn pixel (white, not transp) keeps
    assert (out[1, 1, :3] == np.array(white)).all()
