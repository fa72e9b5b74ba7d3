"""Pure-python/numpy media codecs: 24-bit BMP, PNG, and PCM-16 WAV.

No external media library ships in this environment, but these formats
need none — BMP is a header + raw pixel rows (numpy slicing), PNG is
stdlib ``zlib`` + per-row unfiltering (numpy), and WAV is stdlib
``wave``.  They make the multimodal operators REAL end-to-end for
image/audio payloads: actual pixel decode, actual re-encode, actual
PCM frame slicing — while the remaining compressed formats (JPEG/H.264)
stay behind the ``HAVE_MEDIA_LIBS`` guard in
:mod:`ocr_spark.operators.multimodal`.

Everything here is deterministic: same payload → same array → same
features, which is what the pipeline's rerun-digest guarantees require.
"""

from __future__ import annotations

import io
import struct
import wave
import zlib

import numpy as np


# ---------------------------------------------------------------------------
# BMP (Windows BITMAPINFOHEADER, 24-bit uncompressed)
# ---------------------------------------------------------------------------

def decode_bmp(payload: bytes) -> np.ndarray | None:
    """24-bit uncompressed BMP → (h, w, 3) uint8 RGB; None if not one."""
    b = payload
    if len(b) < 54 or b[:2] != b"BM":
        return None
    data_off = int.from_bytes(b[10:14], "little")
    hdr_sz = int.from_bytes(b[14:18], "little")
    w = int.from_bytes(b[18:22], "little", signed=True)
    h = int.from_bytes(b[22:26], "little", signed=True)
    bpp = int.from_bytes(b[28:30], "little")
    comp = int.from_bytes(b[30:34], "little")
    if bpp != 24 or comp != 0 or hdr_sz < 40 or w <= 0 or h == 0:
        return None
    bottom_up = h > 0
    h = abs(h)
    stride = (w * 3 + 3) & ~3  # rows pad to 4 bytes
    if len(b) < data_off + stride * h:
        return None
    rows = np.frombuffer(b, dtype=np.uint8, count=stride * h,
                         offset=data_off).reshape(h, stride)
    px = rows[:, :w * 3].reshape(h, w, 3)[..., ::-1]  # BGR → RGB
    return px[::-1] if bottom_up else px


def encode_bmp(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit bottom-up BMP bytes."""
    h, w = rgb.shape[:2]
    stride = (w * 3 + 3) & ~3
    bgr = rgb[..., ::-1]
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * 3] = bgr.reshape(h, w * 3)
    pixel_data = rows[::-1].tobytes()  # bottom-up
    data_off = 14 + 40
    file_sz = data_off + len(pixel_data)
    header = (b"BM" + struct.pack("<IHHI", file_sz, 0, 0, data_off)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(pixel_data), 2835, 2835, 0, 0))
    return header + pixel_data


# ---------------------------------------------------------------------------
# PNG (stdlib zlib inflate + numpy row unfiltering — RFC 2083)
# ---------------------------------------------------------------------------

# Decode-side resource cap: a corrupt or hostile header must never make a
# decoder allocate gigabytes or loop over billions of blocks (one bad blob
# must never be job-fatal OR task-hostage — the T7 latency-guard analog
# for media).  64M pixels ≈ 192 MB RGB, far above any sane web asset.
MAX_DECODE_PIXELS = 64_000_000

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type → samples per pixel
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
# Adam7 interlace passes: (x-start, y-start, x-step, y-step)
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


# Upper bound on bytes processed by the LEFT-SERIAL filters (Average,
# Paeth) per image.  Those two cannot be numpy-vectorized (each byte
# depends nonlinearly on the reconstructed byte bpp positions back), so
# their cost is a Python loop — ~3.5 MB/s measured — and
# MAX_DECODE_PIXELS alone would let one ≤8 MB hostile PNG declaring
# near-cap geometry with all-Paeth rows (a legal ~24:1 zlib inflate,
# 192 MB raw) hold an executor core for minutes.  32 MB ≈ a 3.3k×3.3k
# all-Paeth RGB photo (web-size PNGs that large are rare — photographs
# ship as JPEG; big PNGs are screenshots whose flat rows filter as
# None/Up/Sub, which are vectorized and not counted) and bounds the
# hostile worst case at ~9 s.
MAX_SERIAL_FILTER_BYTES = 32_000_000


def _png_unfilter(raw: bytes, h: int, stride: int, bpp: int
                  ) -> np.ndarray | None:
    """Invert RFC 2083 row filters over ``h`` rows of ``stride`` bytes
    (``bpp`` = the filter's byte distance to the 'left' sample)."""
    if len(raw) < h * (1 + stride):
        return None
    rows = np.frombuffer(raw, dtype=np.uint8,
                         count=h * (1 + stride)).reshape(h, 1 + stride)
    filters = rows[:, 0]
    if int(np.isin(filters, (3, 4)).sum()) * stride \
            > MAX_SERIAL_FILTER_BYTES:
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        cur = rows[y, 1:].copy()
        f = filters[y]
        # Average/Paeth run over plain-int lists: per-element indexing on
        # a numpy array goes through scalar boxing (~10x slower than list
        # ints — 1.1 → ~11 MB/s measured on all-Paeth rows)
        if f == 0:                       # None
            recon = cur
        elif f == 1:                     # Sub: per-lane prefix sum mod 256
            recon = np.add.accumulate(
                cur.reshape(-1, bpp), axis=0, dtype=np.uint8).reshape(stride)
        elif f == 2:                     # Up
            recon = cur + prev           # uint8 wraps mod 256
        elif f == 3:                     # Average (left-serial)
            cl = cur.tolist()
            pl = prev.tolist()
            for i in range(bpp):
                cl[i] = (cl[i] + pl[i] // 2) & 0xFF
            for i in range(bpp, stride):
                cl[i] = (cl[i] + ((cl[i - bpp] + pl[i]) >> 1)) & 0xFF
            recon = np.asarray(cl, dtype=np.uint8)
        elif f == 4:                     # Paeth (left-serial)
            cl = cur.tolist()
            pl = prev.tolist()
            # i < bpp: a = c = 0 → p = b → predictor is always b
            for i in range(bpp):
                cl[i] = (cl[i] + pl[i]) & 0xFF
            for i in range(bpp, stride):
                a = cl[i - bpp]
                bb = pl[i]
                c = pl[i - bpp]
                p = a + bb - c
                pa = p - a if p >= a else a - p
                pb = p - bb if p >= bb else bb - p
                pc = p - c if p >= c else c - p
                if pa <= pb and pa <= pc:
                    pred = a
                elif pb <= pc:
                    pred = bb
                else:
                    pred = c
                cl[i] = (cl[i] + pred) & 0xFF
            recon = np.asarray(cl, dtype=np.uint8)
        else:
            return None
        out[y] = recon
        prev = recon
    return out


def decode_png(payload: bytes) -> np.ndarray | None:
    """PNG → (h, w, 3) uint8 RGB; None for non-PNG/unsupported variants.

    Real decode: chunk walk → concatenated-IDAT inflate (stdlib zlib) →
    per-row unfilter (None/Sub/Up/Average/Paeth, the full RFC 2083 set;
    Sub/Up vectorized with numpy's wrap-around uint8 accumulate, the
    left-dependent Average/Paeth per-pixel) → Adam7 de-interlace when
    flagged → color-type normalization (gray/palette expanded, alpha
    dropped, 16-bit samples folded to their high byte, sub-byte gray/
    palette samples unpacked).  Supported: bit depths 1/2/4/8/16, all
    five color types, interlaced or not.
    """
    b = payload
    if not b.startswith(_PNG_SIG):
        return None
    pos, n = len(_PNG_SIG), len(b)
    w = h = depth = ctype = interlace = None
    idat = bytearray()
    plte = None
    try:
        while pos + 8 <= n:
            clen = int.from_bytes(b[pos:pos + 4], "big")
            ctag = b[pos + 4:pos + 8]
            data = b[pos + 8:pos + 8 + clen]
            if len(data) < clen:
                return None
            pos += 12 + clen  # len + tag + data + crc (crc not verified)
            if ctag == b"IHDR":
                if clen != 13:
                    return None
                w, h = (int.from_bytes(data[0:4], "big"),
                        int.from_bytes(data[4:8], "big"))
                depth, ctype = data[8], data[9]
                interlace = data[12]
            elif ctag == b"PLTE":
                plte = np.frombuffer(data, dtype=np.uint8)
                if plte.size % 3:
                    return None
                plte = plte.reshape(-1, 3)
            elif ctag == b"IDAT":
                idat += data
            elif ctag == b"IEND":
                break
        if (w is None or not w or not h or depth not in (1, 2, 4, 8, 16)
                or interlace not in (0, 1)
                or ctype not in _PNG_CHANNELS or not idat
                or w * h > MAX_DECODE_PIXELS):
            return None
        ch = _PNG_CHANNELS[ctype]
        # bound the inflate by the size the HEADER entitles the image to:
        # a decompression bomb behind a small declared geometry must not
        # allocate gigabytes before the h*(1+stride) check ever runs.
        # Pixel bytes total h*stride in both layouts; Adam7 adds one
        # filter byte per PASS-row (≤ 2h rows across the 7 passes).
        row_bytes = (-(-w * depth // 8) if depth < 8
                     else w * ch * (depth // 8))
        expected = h * row_bytes + 2 * h + 8
        raw = zlib.decompressobj().decompress(bytes(idat), expected)
        if depth < 8:
            # sub-byte samples: legal only for gray/palette; filters act
            # at byte granularity (bpp = 1).  Non-interlaced only (the
            # rare interlaced sub-byte PNG takes the stub path).
            if ctype not in (0, 3) or interlace != 0:
                return None
            stride = -(-w * depth // 8)
            packed = _png_unfilter(raw, h, stride, 1)
            if packed is None:
                return None
            bits = np.unpackbits(packed, axis=1)[:, :w * depth]
            weights = 1 << np.arange(depth - 1, -1, -1)
            vals = (bits.reshape(h, w, depth) * weights).sum(axis=2)
            if ctype == 0:       # gray: scale to the full 0-255 range
                scale = 255 // ((1 << depth) - 1)
                return np.repeat((vals * scale).astype(np.uint8)[..., None],
                                 3, axis=2)
            if plte is None or int(vals.max()) >= len(plte):
                return None
            return plte[vals]
        bpp = ch * (depth // 8)              # filter distance in BYTES
        if interlace == 0:
            out = _png_unfilter(raw, h, w * bpp, bpp)
            if out is None:
                return None
        else:                                # Adam7
            out = np.zeros((h, w * bpp), dtype=np.uint8)
            offset = 0
            for x0, y0, dx, dy in _ADAM7:
                pw = -(-(w - x0) // dx)
                ph = -(-(h - y0) // dy)
                if pw <= 0 or ph <= 0:
                    continue
                sub = _png_unfilter(raw[offset:], ph, pw * bpp, bpp)
                if sub is None:
                    return None
                offset += ph * (1 + pw * bpp)
                cols = x0 + dx * np.arange(pw)
                sub = sub.reshape(ph, pw, bpp)
                for yi in range(ph):
                    row = out[y0 + dy * yi].reshape(w, bpp)
                    row[cols] = sub[yi]
    except Exception:
        # decode boundaries are crash-proof: any malformed structure the
        # explicit checks miss (fuzz-found: huge allocations, slice-shape
        # mismatches) degrades to None, never a dead executor task
        return None
    if depth == 16:                          # fold to the high byte
        px = out.reshape(h, w, ch, 2)[..., 0]
    else:
        px = out.reshape(h, w, ch)
    if ctype == 2:                # RGB
        return px
    if ctype == 6:                # RGBA → drop alpha
        return np.ascontiguousarray(px[..., :3])
    if ctype == 0:                # gray
        return np.repeat(px, 3, axis=2)
    if ctype == 4:                # gray+alpha
        return np.repeat(px[..., :1], 3, axis=2)
    if ctype == 3:                # palette
        if plte is None or int(px.max()) >= len(plte):
            return None
        return plte[px[..., 0]]
    return None


def encode_png(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → PNG bytes (color type 2, filter None rows)."""
    h, w = rgb.shape[:2]
    body = np.empty((h, 1 + w * 3), dtype=np.uint8)
    body[:, 0] = 0  # filter: None
    body[:, 1:] = np.asarray(rgb, dtype=np.uint8).reshape(h, w * 3)

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(body.tobytes(), 6))
            + chunk(b"IEND", b""))


def decode_image(payload: bytes) -> tuple[np.ndarray, str] | None:
    """(pixels, format) for any format the pure-python codecs handle.
    Animated GIFs surface their FIRST frame here (the video-shaped
    operators use :func:`decode_gif` directly for the full sequence)."""
    px = decode_bmp(payload)
    if px is not None:
        return px, "bmp"
    px = decode_png(payload)
    if px is not None:
        return px, "png"
    px = decode_jpeg(payload)
    if px is not None:
        return px, "jpeg"
    gif = decode_gif(payload)
    if gif is not None:
        return gif[0][0], "gif"
    return None


def _posterize_332(rgb: np.ndarray) -> np.ndarray:
    """Quantize to the 3-3-2-bit web-safe-ish cube (≤256 colors) so any
    RGB image becomes GIF-encodable after compositing."""
    out = rgb.copy()
    out[..., 0] &= 0xE0
    out[..., 1] &= 0xE0
    out[..., 2] &= 0xC0
    return out


# ---------------------------------------------------------------------------
# JPEG (baseline sequential DCT, Huffman — ITU-T T.81; pure numpy)
# ---------------------------------------------------------------------------
#
# Scope: the dominant web JPEG — baseline sequential (SOF0), 8-bit, 1 or 3
# components, any sampling factors up to 2x2 (4:4:4 / 4:2:2 / 4:2:0),
# restart markers.  Progressive (SOF2), arithmetic coding, 12-bit, and
# CMYK return None and take the disclosed stub path downstream.

ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10, 17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63],
    dtype=np.int32)

# orthonormal 8-point DCT-II basis: _DCT8[k, n] = c(k) cos((2n+1)kπ/16)
_DCT8 = np.zeros((8, 8))
for _k in range(8):
    _c = np.sqrt(0.5) if _k == 0 else 1.0
    _DCT8[_k] = 0.5 * _c * np.cos((2 * np.arange(8) + 1) * _k * np.pi / 16)
del _k, _c


def _idct2(coef: np.ndarray) -> np.ndarray:
    """Inverse 2-D DCT of an 8×8 coefficient block (float in/out)."""
    return _DCT8.T @ coef @ _DCT8


def _fdct2(block: np.ndarray) -> np.ndarray:
    """Forward 2-D DCT of an 8×8 sample block (float in/out)."""
    return _DCT8 @ block @ _DCT8.T


class _HuffTable:
    """Canonical JPEG Huffman table → (code → symbol) decode dict keyed by
    (length, code-value), mirroring the spec's BITS/HUFFVAL construction."""

    def __init__(self, bits: list[int], values: bytes) -> None:
        self.lookup: dict[tuple[int, int], int] = {}
        code = 0
        k = 0
        for length in range(1, 17):
            for _ in range(bits[length - 1]):
                self.lookup[(length, code)] = values[k]
                code += 1
                k += 1
            code <<= 1


class _BitReader:
    """MSB-first bit reader over entropy-coded data (already unstuffed)."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.bit = 0

    def read_bit(self) -> int:
        if self.pos >= len(self.data):
            raise EOFError
        b = (self.data[self.pos] >> (7 - self.bit)) & 1
        self.bit += 1
        if self.bit == 8:
            self.bit = 0
            self.pos += 1
        return b

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def decode_huff(self, table: _HuffTable) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.read_bit()
            sym = table.lookup.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid Huffman code")


def _extend(v: int, size: int) -> int:
    """JPEG EXTEND: map `size`-bit magnitude bits to the signed value."""
    if size == 0:
        return 0
    return v if v >= (1 << (size - 1)) else v - (1 << size) + 1


def _jpeg_planes_to_rgb(full: list[np.ndarray]) -> np.ndarray:
    """Shared decode epilogue: full-resolution float32 component planes
    (already upsampled and cropped) → uint8 RGB (or replicated gray)."""
    if len(full) == 1:
        y = np.clip(full[0], 0, 255).astype(np.uint8)
        return np.repeat(y[..., None], 3, axis=2)
    y, cb, cr = full[0], full[1] - 128.0, full[2] - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    bl = y + 1.772 * cb
    rgb = np.stack([r, g, bl], axis=-1)
    return np.clip(np.rint(rgb), 0, 255).astype(np.uint8)


def _jpeg_seg(marker: int, data: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(data) + 2) + data


def _jpeg_dqt(tq: int, tbl: np.ndarray) -> bytes:
    """Quant table (natural order in memory) → DQT segment (zigzag)."""
    return _jpeg_seg(0xDB, bytes([tq]) + bytes(
        int(tbl[ZIGZAG[i]]) for i in range(64)))


def _jpeg_dht(tc: int, th: int, bits: list[int], vals: bytes) -> bytes:
    return _jpeg_seg(0xC4, bytes([(tc << 4) | th]) + bytes(bits) + vals)


def decode_jpeg(payload: bytes) -> np.ndarray | None:
    """Baseline (SOF0) or progressive (SOF2) JPEG → (h, w, 3) uint8 RGB;
    None for non/unsupported JPEG."""
    b = payload
    if len(b) < 4 or b[0:2] != b"\xff\xd8":
        return None
    try:
        return _decode_jpeg_inner(b)
    except Exception:
        # crash-proof decode boundary (fuzz-found: corrupt Huffman tables
        # yield absurd bit counts → OverflowError) — degrade to None
        return None


def _decode_jpeg_inner(b: bytes) -> np.ndarray | None:
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    frame = None          # (h, w, [(cid, hs, vs, tq)])
    restart_interval = 0
    scan = None
    while pos + 4 <= len(b):
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker == 0xD8:       # stray SOI
            pos += 2
            continue
        seg_len = int.from_bytes(b[pos + 2:pos + 4], "big")
        data = b[pos + 4:pos + 2 + seg_len]
        if marker == 0xDB:       # DQT
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 0xF
                if pq != 0:      # 16-bit tables: out of scope
                    return None
                tbl = np.frombuffer(data[i + 1:i + 65], dtype=np.uint8)
                if tbl.size != 64:
                    return None
                qt[tq] = tbl.astype(np.int32)
                i += 65
        elif marker == 0xC0:     # SOF0 baseline
            h = int.from_bytes(data[1:3], "big")
            w = int.from_bytes(data[3:5], "big")
            ncomp = data[5]
            if (data[0] != 8 or ncomp not in (1, 3) or not h or not w
                    or w * h > MAX_DECODE_PIXELS):
                return None
            comps = []
            for ci in range(ncomp):
                cid = data[6 + ci * 3]
                hs, vs = data[7 + ci * 3] >> 4, data[7 + ci * 3] & 0xF
                tq = data[8 + ci * 3]
                if not (1 <= hs <= 2 and 1 <= vs <= 2):
                    return None
                comps.append((cid, hs, vs, tq))
            frame = (h, w, comps)
        elif marker == 0xC2:     # SOF2 progressive: dedicated multi-scan path
            return _decode_jpeg_progressive(b)
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None          # other non-baseline frame types
        elif marker == 0xC4:     # DHT
            i = 0
            while i + 17 <= len(data):
                tc, th = data[i] >> 4, data[i] & 0xF
                bits = list(data[i + 1:i + 17])
                nval = sum(bits)
                vals = data[i + 17:i + 17 + nval]
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffTable(bits, vals)
                i += 17 + nval
        elif marker == 0xDD:     # DRI
            restart_interval = int.from_bytes(data[0:2], "big")
        elif marker == 0xDA:     # SOS
            ns = data[0]
            scan = []
            for si in range(ns):
                cs = data[1 + si * 2]
                td, ta = data[2 + si * 2] >> 4, data[2 + si * 2] & 0xF
                scan.append((cs, td, ta))
            pos = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if frame is None or scan is None:
        return None
    h, w, comps = frame
    if len(scan) != len(comps):
        return None
    # a baseline SOS must cover the frame components in frame order —
    # positional pairing below assumes it.  A nonconforming file with
    # reordered scan components would otherwise decode with swapped
    # Huffman-table assignments (garbage pixels); degrade to None like
    # every other malformed input instead.
    if any(scan[i][0] != comps[i][0] for i in range(len(comps))):
        return None

    # entropy-coded segment: unstuff FF00, collect restart boundaries
    ecs, resets, _ = _scan_ecs(b, pos)

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    # the MCU-padded working area can exceed the declared w*h — cap it
    # too, and keep planes float32 so a near-cap hostile header commits
    # ~¼ of what three float64 planes would before the first entropy read
    if mcux * 8 * hmax * mcuy * 8 * vmax > 2 * MAX_DECODE_PIXELS:
        return None
    planes = []
    for cid, hs, vs, tq in comps:
        planes.append(np.zeros((mcuy * vs * 8, mcux * hs * 8),
                               dtype=np.float32))

    reader = _BitReader(bytes(ecs))
    preds = [0] * len(comps)
    mcu_index = 0
    reset_iter = iter(resets)
    next_reset = next(reset_iter, None)
    for my in range(mcuy):
        for mx in range(mcux):
            if (restart_interval and mcu_index
                    and mcu_index % restart_interval == 0):
                # align to the recorded restart boundary and reset DC
                if next_reset is None:
                    raise ValueError("missing restart marker")
                reader.pos, reader.bit = next_reset, 0
                next_reset = next(reset_iter, None)
                preds = [0] * len(comps)
            for ci, (cid, hs, vs, tq) in enumerate(comps):
                _, td, ta = scan[ci]
                for by in range(vs):
                    for bx in range(hs):
                        zz = np.zeros(64, dtype=np.int32)
                        t = reader.decode_huff(huff_dc[td])
                        if t > 15:   # legal DC categories are 0..11
                            raise ValueError("invalid DC size category")
                        diff = _extend(reader.read_bits(t), t)
                        preds[ci] += diff
                        zz[0] = preds[ci]
                        k = 1
                        while k < 64:
                            rs = reader.decode_huff(huff_ac[ta])
                            r, s = rs >> 4, rs & 0xF
                            if s == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break        # EOB
                            k += r
                            if k > 63:
                                raise ValueError("AC run past block end")
                            zz[k] = _extend(reader.read_bits(s), s)
                            k += 1
                        # DQT tables arrive in zigzag order, so qt[i]
                        # dequantizes the coefficient at zigzag index i
                        coef = np.zeros(64, dtype=np.float64)
                        coef[ZIGZAG] = zz * qt[tq]
                        block = _idct2(coef.reshape(8, 8)) + 128.0
                        y0 = (my * vs + by) * 8
                        x0 = (mx * hs + bx) * 8
                        planes[ci][y0:y0 + 8, x0:x0 + 8] = block
            mcu_index += 1

    # upsample each component to full MCU-aligned resolution, crop, combine
    full = []
    for (cid, hs, vs, tq), plane in zip(comps, planes):
        up = np.repeat(np.repeat(plane, vmax // vs, axis=0),
                       hmax // hs, axis=1)
        full.append(up[:h, :w])
    return _jpeg_planes_to_rgb(full)


# --- JPEG encoder (baseline, 4:4:4, Annex K tables) — primarily the
#     differential twin for decode_jpeg, and a real encoder nonetheless ----

# ITU-T T.81 Annex K quantization tables (luminance / chrominance)
_QL = np.array([
    16, 11, 10, 16, 24, 40, 51, 61, 12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56, 14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77, 24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101, 72, 92, 95, 98, 112, 100, 103, 99],
    dtype=np.int32)
_QC = np.array([
    17, 18, 24, 47, 99, 99, 99, 99, 18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99, 47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99, 99],
    dtype=np.int32)

# Annex K typical Huffman tables: (BITS list, HUFFVAL bytes)
_DC_L = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
         bytes(range(12)))
_DC_C = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
         bytes(range(12)))
_AC_L = ([0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D], bytes([
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]))
_AC_C = ([0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77], bytes([
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA]))


def _huff_encode_map(bits: list[int], values: bytes) -> dict[int, tuple[int, int]]:
    """symbol → (code, length) for the canonical table."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[values[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)     # byte stuffing
            self.nbits -= 8

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)   # pad with 1s
        return bytes(self.out)


def _mag_cat(v: int) -> tuple[int, int]:
    """(size category, magnitude bits) for a signed DCT coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    size = a.bit_length()
    bits = v if v > 0 else v + (1 << size) - 1
    return size, bits


def encode_jpeg(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → baseline JPEG (4:4:4, Annex K tables)."""
    h, w = rgb.shape[:2]
    px = np.asarray(rgb, dtype=np.float64)
    y = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    cb = 128.0 - 0.168736 * px[..., 0] - 0.331264 * px[..., 1] + 0.5 * px[..., 2]
    cr = 128.0 + 0.5 * px[..., 0] - 0.418688 * px[..., 1] - 0.081312 * px[..., 2]

    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    planes = []
    for plane in (y, cb, cr):
        p = np.empty((ph, pw))
        p[:h, :w] = plane
        p[h:, :w] = plane[-1:, :]          # edge-replicate padding
        p[:, w:] = p[:, w - 1:w]
        planes.append(p - 128.0)

    dc_maps = (_huff_encode_map(*_DC_L), _huff_encode_map(*_DC_C))
    ac_maps = (_huff_encode_map(*_AC_L), _huff_encode_map(*_AC_C))
    qts = (_QL, _QC)
    # quant tables are stored/applied in NATURAL order here; the DQT
    # segment serializes them in zigzag order as the spec requires
    writer = _BitWriter()
    preds = [0, 0, 0]
    for by in range(ph // 8):
        for bx in range(pw // 8):
            for ci in range(3):
                ti = 0 if ci == 0 else 1
                block = planes[ci][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                coef = _fdct2(block)
                q = np.rint(coef / qts[ti].reshape(8, 8)).astype(np.int32)
                zz = q.reshape(64)[ZIGZAG]
                diff = int(zz[0]) - preds[ci]
                preds[ci] = int(zz[0])
                size, bits = _mag_cat(diff)
                code, ln = dc_maps[ti][size]
                writer.write(code, ln)
                if size:
                    writer.write(bits, size)
                run = 0
                last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz) else 0
                for k in range(1, 64):
                    v = int(zz[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_maps[ti][0xF0]   # ZRL
                        writer.write(code, ln)
                        run -= 16
                    size, bits = _mag_cat(v)
                    code, ln = ac_maps[ti][(run << 4) | size]
                    writer.write(code, ln)
                    writer.write(bits, size)
                    run = 0
                    if k == last_nz:
                        break
                if last_nz < 63:
                    code, ln = ac_maps[ti][0x00]       # EOB
                    writer.write(code, ln)
    ecs = writer.flush()

    sof = _jpeg_seg(0xC0, bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
                    + bytes([1, 0x11, 0]) + bytes([2, 0x11, 1])
                    + bytes([3, 0x11, 1]))
    sos = _jpeg_seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    return (b"\xff\xd8" + _jpeg_dqt(0, _QL) + _jpeg_dqt(1, _QC)
            + _jpeg_dht(0, 0, *_DC_L) + _jpeg_dht(1, 0, *_AC_L)
            + _jpeg_dht(0, 1, *_DC_C) + _jpeg_dht(1, 1, *_AC_C)
            + sof + sos + ecs + b"\xff\xd9")


# ---------------------------------------------------------------------------
# JPEG progressive mode (SOF2): multi-scan spectral-selection / successive-
# approximation decode per ITU-T T.81 G.1-G.2, plus an encoder twin.  The
# decoder accumulates quantized coefficients across scans and runs one
# vectorized dequant+IDCT at the end; the encoder emits the SAME quantized
# coefficients as the baseline encoder through a standard 10-scan script,
# so `decode(encode_progressive(px)) == decode(encode_baseline(px))`
# pixel-exactly — the differential ground truth with no external library.
# ---------------------------------------------------------------------------

def _scan_ecs(b: bytes, i: int) -> tuple[bytes, list[int], int]:
    """Unstuff one entropy-coded segment starting at ``i``: FF00 → FF,
    RSTn positions recorded, stop at any other marker.  Returns
    (unstuffed bytes, restart boundaries, position of the next marker)."""
    ecs = bytearray()
    resets: list[int] = []
    n = len(b)
    while i < n:
        c = b[i]
        if c == 0xFF:
            nxt = b[i + 1] if i + 1 < n else 0xD9
            if nxt == 0x00:
                ecs.append(0xFF)
                i += 2
                continue
            if 0xD0 <= nxt <= 0xD7:
                resets.append(len(ecs))
                i += 2
                continue
            break
        ecs.append(c)
        i += 1
    return bytes(ecs), resets, i


def _decode_jpeg_progressive(b: bytes) -> np.ndarray | None:
    """SOF2 progressive JPEG → (h, w, 3) uint8 RGB, or None.

    Walks every marker segment; each SOS scan (DC first/refine, AC first/
    refine with EOB runs) updates the per-component zigzag coefficient
    store with the Huffman tables in effect AT THAT SCAN (T.81 allows DHT
    between scans).  Restart intervals reset DC predictors and the EOB
    run and realign to the recorded RSTn boundary."""
    pos = 2
    qt: dict[int, np.ndarray] = {}
    huff_dc: dict[int, _HuffTable] = {}
    huff_ac: dict[int, _HuffTable] = {}
    frame = None
    restart_interval = 0
    nscans = 0
    coefs: list[np.ndarray] = []      # per comp: (bh_pad, bw_pad, 64) zigzag
    geom: list[tuple[int, int, int, int]] = []   # (bw, bh, bw_pad, bh_pad)
    n = len(b)
    while pos + 4 <= n:
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker == 0xD8:
            pos += 2
            continue
        if marker == 0xD9:
            break
        seg_len = int.from_bytes(b[pos + 2:pos + 4], "big")
        data = b[pos + 4:pos + 2 + seg_len]
        if marker == 0xDB:
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 0xF
                if pq != 0:
                    return None
                tbl = np.frombuffer(data[i + 1:i + 65], dtype=np.uint8)
                if tbl.size != 64:
                    return None
                qt[tq] = tbl.astype(np.int32)
                i += 65
        elif marker == 0xC2:
            if frame is not None:
                return None
            h = int.from_bytes(data[1:3], "big")
            w = int.from_bytes(data[3:5], "big")
            ncomp = data[5]
            if (data[0] != 8 or ncomp not in (1, 3) or not h or not w
                    or w * h > MAX_DECODE_PIXELS):
                return None
            comps = []
            for ci in range(ncomp):
                cid = data[6 + ci * 3]
                hs, vs = data[7 + ci * 3] >> 4, data[7 + ci * 3] & 0xF
                tq = data[8 + ci * 3]
                if not (1 <= hs <= 2 and 1 <= vs <= 2):
                    return None
                comps.append((cid, hs, vs, tq))
            hmax = max(c[1] for c in comps)
            vmax = max(c[2] for c in comps)
            mcux = -(-w // (8 * hmax))
            mcuy = -(-h // (8 * vmax))
            if mcux * 8 * hmax * mcuy * 8 * vmax > 2 * MAX_DECODE_PIXELS:
                return None
            frame = (h, w, comps, hmax, vmax, mcux, mcuy)
            for cid, hs, vs, tq in comps:
                cw = -(-w * hs // hmax)
                ch = -(-h * vs // vmax)
                bw, bh = -(-cw // 8), -(-ch // 8)
                bw_pad, bh_pad = mcux * hs, mcuy * vs
                geom.append((bw, bh, bw_pad, bh_pad))
                # int16 suffices: 8-bit quantized coefficients span ±2047
                coefs.append(np.zeros((bh_pad, bw_pad, 64), dtype=np.int16))
        elif marker in (0xC0, 0xC1, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            return None
        elif marker == 0xC4:
            i = 0
            while i + 17 <= len(data):
                tc, th = data[i] >> 4, data[i] & 0xF
                bits = list(data[i + 1:i + 17])
                nval = sum(bits)
                vals = data[i + 17:i + 17 + nval]
                (huff_dc if tc == 0 else huff_ac)[th] = _HuffTable(bits, vals)
                i += 17 + nval
        elif marker == 0xDD:
            restart_interval = int.from_bytes(data[0:2], "big")
        elif marker == 0xDA:
            if frame is None:
                return None
            if nscans >= 32:
                # every scan re-walks its components' full block grid, so
                # scan count is a CPU amplifier a hostile file controls;
                # real progressive encoders emit ~10-15 scans
                return None
            ns = data[0]
            scan = []
            for si in range(ns):
                cs = data[1 + si * 2]
                td, ta = data[2 + si * 2] >> 4, data[2 + si * 2] & 0xF
                scan.append((cs, td, ta))
            ss, se = data[1 + ns * 2], data[2 + ns * 2]
            ah, al = data[3 + ns * 2] >> 4, data[3 + ns * 2] & 0xF
            ecs, resets, after = _scan_ecs(b, pos + 2 + seg_len)
            _decode_prog_scan(frame, geom, coefs, scan, ss, se, ah, al,
                              huff_dc, huff_ac, restart_interval,
                              ecs, resets)
            nscans += 1
            pos = after
            continue
        pos += 2 + seg_len
    if frame is None or nscans == 0:
        return None
    h, w, comps, hmax, vmax, mcux, mcuy = frame

    # vectorized dequant + IDCT, CHUNKED by block rows: full-frame float64
    # temporaries would cost ~24 bytes/pixel on a near-cap hostile header
    # (10x the baseline path's hardened float32 budget) — each chunk's
    # float64 scratch is bounded, results land in one float32 plane, and
    # the int16 store is released as soon as its plane is built
    full = []
    for comp_i, ((cid, hs, vs, tq), (bw, bh, bw_pad, bh_pad)) in enumerate(
            zip(comps, geom)):
        cf = coefs[comp_i]
        if tq not in qt:
            return None
        qtab = qt[tq].astype(np.float64)
        plane = np.empty((bh_pad * 8, bw_pad * 8), dtype=np.float32)
        chunk = max(1, (1 << 14) // max(1, bw_pad))   # ~25 MB scratch cap
        for y0 in range(0, bh_pad, chunk):
            part = cf[y0:y0 + chunk]
            nat = np.zeros(part.shape, dtype=np.float64)
            nat[..., ZIGZAG] = part.astype(np.float64) * qtab
            blocks = nat.reshape(part.shape[0], bw_pad, 8, 8)
            # IDCT2 all blocks at once: C.T @ B @ C over the last two axes
            out = np.einsum("ij,ywjk,kl->ywil", _DCT8.T, blocks, _DCT8)
            plane[y0 * 8:(y0 + part.shape[0]) * 8] = (
                out.transpose(0, 2, 1, 3)
                .reshape(part.shape[0] * 8, bw_pad * 8) + 128.0)
        coefs[comp_i] = None          # release the int16 store
        up = np.repeat(np.repeat(plane, vmax // vs, axis=0),
                       hmax // hs, axis=1)
        full.append(up[:h, :w])
    return _jpeg_planes_to_rgb(full)


def _decode_prog_scan(frame, geom, coefs, scan, ss, se, ah, al,
                      huff_dc, huff_ac, restart_interval,
                      ecs: bytes, resets: list[int]) -> None:
    """Decode ONE progressive scan into the coefficient store (T.81 G.2).

    Four scan kinds: DC first (Ah=0, diff-coded, shifted left Al), DC
    refine (one bit per block), AC first (run/size with EOB runs), AC
    refine (correction bits on nonzero history + newly-nonzero ±1<<Al).
    DC scans may interleave components (MCU order); AC scans are always
    single-component in the component's own block raster."""
    h, w, comps, hmax, vmax, mcux, mcuy = frame
    reader = _BitReader(ecs)
    reset_iter = iter(resets)
    comp_idx = {c[0]: i for i, c in enumerate(comps)}
    members = [comp_idx[cs] for cs, _, _ in scan]
    state = {"eobrun": 0, "preds": [0] * len(scan)}

    def restart() -> None:
        nxt = next(reset_iter, None)
        if nxt is None:
            raise ValueError("missing restart marker")
        reader.pos, reader.bit = nxt, 0
        state["eobrun"] = 0
        state["preds"] = [0] * len(scan)

    if ss == 0:                       # DC scan (Se must be 0)
        if se != 0:
            raise ValueError("bad DC spectral range")
        if ah != 0 and not restart_interval:
            # refinement is one raw bit per block — bulk-read them all
            # (the per-block Python loop here was a 4000x-per-byte CPU
            # amplifier on near-cap frames)
            _dc_refine_bulk(reader, frame, geom, coefs, members, al)
            return
        unit = 0
        if len(scan) > 1:             # interleaved over MCUs
            for my in range(mcuy):
                for mx in range(mcux):
                    if (restart_interval and unit
                            and unit % restart_interval == 0):
                        restart()
                    for si, ci in enumerate(members):
                        _, hs, vs, _ = comps[ci]
                        td = scan[si][1]
                        cf = coefs[ci]
                        for by in range(vs):
                            for bx in range(hs):
                                _dc_one(reader, cf[my * vs + by,
                                                   mx * hs + bx],
                                        huff_dc.get(td), ah, al,
                                        state, si)
                    unit += 1
        else:
            ci = members[0]
            td = scan[0][1]
            bw, bh, _, _ = geom[ci]
            cf = coefs[ci]
            for byy in range(bh):
                for bxx in range(bw):
                    if (restart_interval and unit
                            and unit % restart_interval == 0):
                        restart()
                    _dc_one(reader, cf[byy, bxx], huff_dc.get(td),
                            ah, al, state, 0)
                    unit += 1
        return

    if len(scan) != 1:
        raise ValueError("AC scans must be single-component")
    ci = members[0]
    ta = scan[0][2]
    table = huff_ac.get(ta)
    if table is None:
        raise ValueError("missing AC table")
    bw, bh, _, _ = geom[ci]
    cf = coefs[ci]
    if ah != 0:
        # an EOB-run-covered block consumes correction bits ONLY at
        # nonzero-history positions; this scan never turns a zero into a
        # nonzero inside an EOB run, so a scan-start snapshot lets the
        # run skip all-zero blocks in O(1) instead of sweeping the band
        band_nz = np.any(cf[:bh, :bw, ss:se + 1] != 0, axis=2)
    unit = 0
    for byy in range(bh):
        for bxx in range(bw):
            if restart_interval and unit and unit % restart_interval == 0:
                restart()
            if ah == 0:
                _ac_first(reader, cf[byy, bxx], table, ss, se, al, state)
            elif state["eobrun"] > 0 and not band_nz[byy, bxx]:
                state["eobrun"] -= 1
            else:
                _ac_refine(reader, cf[byy, bxx], table, ss, se, al, state)
            unit += 1


def _read_bits_bulk(reader: _BitReader, n: int) -> np.ndarray:
    """Read ``n`` raw bits from the reader as a uint8 0/1 array (MSB-first,
    matching read_bit) and advance its position."""
    need = (reader.bit + n + 7) // 8
    if reader.pos + need > len(reader.data):
        raise EOFError
    raw = np.frombuffer(reader.data, dtype=np.uint8,
                        count=need, offset=reader.pos)
    bits = np.unpackbits(raw)[reader.bit:reader.bit + n]
    adv = reader.bit + n
    reader.pos += adv // 8
    reader.bit = adv % 8
    return bits


def _dc_refine_bulk(reader, frame, geom, coefs, members, al: int) -> None:
    """Vectorized DC refinement (no restart interval): one bulk bit read,
    then an indexed OR of ``bit << al`` into every block's DC slot —
    identical semantics to `_dc_one`'s refine branch, block order
    preserved (MCU raster × scan-component × in-MCU raster)."""
    h, w, comps, hmax, vmax, mcux, mcuy = frame
    if len(members) > 1:
        bpm = sum(comps[ci][1] * comps[ci][2] for ci in members)
        bits = _read_bits_bulk(reader, mcux * mcuy * bpm)
        off = 0
        for ci in members:
            _, hs, vs, _ = comps[ci]
            cf = coefs[ci]
            my, mx, by, bx = np.meshgrid(
                np.arange(mcuy), np.arange(mcux),
                np.arange(vs), np.arange(hs), indexing="ij")
            idx = ((my * mcux + mx) * bpm + off + by * hs + bx).ravel()
            rows = (my * vs + by).ravel()
            cols = (mx * hs + bx).ravel()
            cf[rows, cols, 0] |= bits[idx].astype(cf.dtype) << al
            off += hs * vs
    else:
        ci = members[0]
        bw, bh, _, _ = geom[ci]
        bits = _read_bits_bulk(reader, bh * bw)
        cf = coefs[ci]
        cf[:bh, :bw, 0] |= bits.reshape(bh, bw).astype(cf.dtype) << al


def _dc_one(reader, block, table, ah: int, al: int, state, si: int) -> None:
    """One block's DC contribution: first pass diff-decodes and shifts,
    refinement appends one magnitude bit."""
    if ah == 0:
        if table is None:
            raise ValueError("missing DC table")
        t = reader.decode_huff(table)
        if t > 15:
            raise ValueError("invalid DC size category")
        diff = _extend(reader.read_bits(t), t)
        state["preds"][si] += diff
        block[0] = state["preds"][si] << al
    else:
        if reader.read_bit():
            block[0] = int(block[0]) | (1 << al)


def _ac_first(reader, block, table, ss, se, al, state) -> None:
    """AC first pass for one block (T.81 G.2.2): run/size coding of the
    point-transformed band, EOBn codes spanning 1..32767 blocks."""
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = reader.decode_huff(table)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r == 15:               # ZRL: sixteen zeros
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += reader.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        block[k] = _extend(reader.read_bits(s), s) << al
        k += 1


def _ac_refine(reader, block, table, ss, se, al, state) -> None:
    """AC refinement for one block (T.81 G.2.3 / libjpeg shape): newly-
    nonzero coefficients arrive as ±1<<Al; every nonzero-history
    coefficient passed over consumes one correction bit."""
    p1, m1 = 1 << al, -1 << al

    def correct(k: int) -> None:
        v = int(block[k])
        if reader.read_bit() and not (v & p1):
            block[k] = v + (p1 if v >= 0 else m1)

    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = reader.decode_huff(table)
            r, s = rs >> 4, rs & 0xF
            newval = 0
            if s == 0:
                if r != 15:           # EOBn
                    state["eobrun"] = (1 << r)
                    if r:
                        state["eobrun"] += reader.read_bits(r)
                    break
                # ZRL: skip 16 zero-history positions with corrections
            else:
                if s != 1:
                    raise ValueError("refinement size must be 1")
                newval = p1 if reader.read_bit() else m1
            while k <= se:
                if block[k] != 0:
                    correct(k)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if newval and k <= se:
                block[k] = newval
            k += 1
    if state["eobrun"] > 0:           # EOB-run block: corrections only
        while k <= se:
            if block[k] != 0:
                correct(k)
            k += 1
        state["eobrun"] -= 1


def _flat_huff(symbols) -> tuple[list[int], bytes]:
    """A canonical Huffman table hosting the given symbols as fixed 9-bit
    codes (≤255 symbols per DHT length byte; codes 0..n-1 < 511, so the
    all-ones code never occurs).  Deliberately size-naive: the
    progressive encoder is a correctness twin for the decoder, not a
    compressor."""
    vals = bytes(symbols)
    bits = [0] * 16
    bits[8] = len(vals)        # BITS index 8 == code length 9
    return bits, vals


# every symbol a progressive AC scan can emit: (run<<4)|size for sizes
# 0..10 — size 0 covers EOBn (run 0..14) and ZRL (0xF0)
_AC_PROG_SYMS = [(r << 4) | s for r in range(16) for s in range(11)]


def encode_jpeg_progressive(rgb: np.ndarray) -> bytes:
    """(h, w, 3) uint8 RGB → progressive JPEG (SOF2, 4:4:4, Annex K
    quant tables, 10-scan script covering DC first/refine and AC
    spectral bands with two successive-approximation levels).

    Quantized coefficients are computed EXACTLY as :func:`encode_jpeg`
    does (same per-block `_fdct2` + rint/quant), so decoding this stream
    must yield pixels identical to decoding the baseline stream — the
    differential contract the tests pin."""
    h, w = rgb.shape[:2]
    px = np.asarray(rgb, dtype=np.float64)
    y = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    cb = (128.0 - 0.168736 * px[..., 0] - 0.331264 * px[..., 1]
          + 0.5 * px[..., 2])
    cr = (128.0 + 0.5 * px[..., 0] - 0.418688 * px[..., 1]
          - 0.081312 * px[..., 2])
    ph, pw = -(-h // 8) * 8, -(-w // 8) * 8
    planes = []
    for plane in (y, cb, cr):
        p = np.empty((ph, pw))
        p[:h, :w] = plane
        p[h:, :w] = plane[-1:, :]
        p[:, w:] = p[:, w - 1:w]
        planes.append(p - 128.0)

    qts = (_QL, _QC)
    nby, nbx = ph // 8, pw // 8
    zz = [np.zeros((nby, nbx, 64), dtype=np.int32) for _ in range(3)]
    for ci in range(3):
        q8 = qts[0 if ci == 0 else 1].reshape(8, 8)
        for by in range(nby):
            for bx in range(nbx):
                block = planes[ci][by * 8:by * 8 + 8, bx * 8:bx * 8 + 8]
                qb = np.rint(_fdct2(block) / q8).astype(np.int32)
                zz[ci][by, bx] = qb.reshape(64)[ZIGZAG]

    dc_bits, dc_vals = _flat_huff(range(12))
    ac_bits, ac_vals = _flat_huff(_AC_PROG_SYMS)
    dc_map = _huff_encode_map(dc_bits, dc_vals)
    ac_map = _huff_encode_map(ac_bits, ac_vals)

    def dc_first(writer, members, al):
        preds = [0] * len(members)
        for by in range(nby):
            for bx in range(nbx):
                for si, ci in enumerate(members):
                    v = int(zz[ci][by, bx, 0]) >> al   # DC: arithmetic shift
                    diff = v - preds[si]
                    preds[si] = v
                    size, bits = _mag_cat(diff)
                    code, ln = dc_map[size]
                    writer.write(code, ln)
                    if size:
                        writer.write(bits, size)

    def dc_refine(writer, members, al):
        for by in range(nby):
            for bx in range(nbx):
                for ci in members:
                    writer.write((int(zz[ci][by, bx, 0]) >> al) & 1, 1)

    def ac_first(writer, ci, ss, se, al):
        eobrun = 0

        def flush() -> int:
            if not eobrun:
                return 0
            r = eobrun.bit_length() - 1
            code, ln = ac_map[r << 4]
            writer.write(code, ln)
            if r:
                writer.write(eobrun - (1 << r), r)
            return 0

        for by in range(nby):
            for bx in range(nbx):
                band = zz[ci][by, bx, ss:se + 1]
                # AC point transform truncates toward zero (T.81 G.1.2.2)
                t = np.sign(band) * (np.abs(band) >> al)
                nz = np.nonzero(t)[0]
                if nz.size == 0:
                    eobrun += 1
                    if eobrun == 32767:
                        eobrun = flush()
                    continue
                eobrun = flush()
                run = 0
                last = int(nz[-1])
                for k in range(last + 1):
                    v = int(t[k])
                    if v == 0:
                        run += 1
                        continue
                    while run > 15:
                        code, ln = ac_map[0xF0]
                        writer.write(code, ln)
                        run -= 16
                    size, bits = _mag_cat(v)
                    code, ln = ac_map[(run << 4) | size]
                    writer.write(code, ln)
                    writer.write(bits, size)
                    run = 0
                if last < se - ss:
                    eobrun = 1
        flush()

    def ac_refine(writer, ci, ss, se, al):
        # T.81 G.1.2.3 (libjpeg shape): newly-nonzero (|v|>>al == 1) are
        # coded; nonzero-history positions buffer one correction bit each,
        # emitted after the next symbol; all-zero tails fold into EOB runs
        # whose buffered bits follow the EOBn code in block order.
        eobrun = 0
        carried: list[int] = []       # correction bits owned by the run

        def flush():
            nonlocal eobrun
            if eobrun:
                r = eobrun.bit_length() - 1
                code, ln = ac_map[r << 4]
                writer.write(code, ln)
                if r:
                    writer.write(eobrun - (1 << r), r)
                eobrun = 0
                for bit in carried:
                    writer.write(bit, 1)
                carried.clear()

        for by in range(nby):
            for bx in range(nbx):
                band = [int(v) for v in zz[ci][by, bx, ss:se + 1]]
                t = [abs(v) >> al for v in band]
                eob = -1
                for k, tv in enumerate(t):
                    if tv == 1:
                        eob = k
                r = 0
                pend: list[int] = []  # bits buffered inside this block
                for k, tv in enumerate(t):
                    if tv == 0:
                        r += 1
                        continue
                    while r > 15 and k <= eob:
                        flush()
                        code, ln = ac_map[0xF0]
                        writer.write(code, ln)
                        r -= 16
                        for bit in pend:
                            writer.write(bit, 1)
                        pend = []
                    if tv > 1:
                        pend.append(tv & 1)
                        continue
                    flush()
                    code, ln = ac_map[(r << 4) | 1]
                    writer.write(code, ln)
                    writer.write(0 if band[k] < 0 else 1, 1)
                    for bit in pend:
                        writer.write(bit, 1)
                    pend = []
                    r = 0
                if r > 0 or pend:
                    eobrun += 1
                    carried.extend(pend)
                    if eobrun == 32767:
                        flush()
        flush()

    sof = _jpeg_seg(0xC2, bytes([8]) + struct.pack(">HH", h, w) + bytes([3])
                    + bytes([1, 0x11, 0]) + bytes([2, 0x11, 1])
                    + bytes([3, 0x11, 1]))
    out = bytearray(b"\xff\xd8" + _jpeg_dqt(0, _QL) + _jpeg_dqt(1, _QC)
                    + _jpeg_dht(0, 0, dc_bits, dc_vals)
                    + _jpeg_dht(1, 0, ac_bits, ac_vals) + sof)
    # (members, Ss, Se, Ah, Al): the classic script — DC first at Al=1,
    # luma AC split into two bands at Al=2, chroma AC at Al=1, then one
    # AC refinement step per component and the DC refinement bit.
    script = [
        ((0, 1, 2), 0, 0, 0, 1),
        ((0,), 1, 5, 0, 2),
        ((1,), 1, 63, 0, 1),
        ((2,), 1, 63, 0, 1),
        ((0,), 6, 63, 0, 2),
        ((0,), 1, 63, 2, 1),
        ((0, 1, 2), 0, 0, 1, 0),
        ((1,), 1, 63, 1, 0),
        ((2,), 1, 63, 1, 0),
        ((0,), 1, 63, 1, 0),
    ]
    for members, ss, se, ah, al in script:
        head = bytes([len(members)])
        for ci in members:
            head += bytes([ci + 1, 0x00])   # Td=0, Ta=0 (flat tables)
        head += bytes([ss, se, (ah << 4) | al])
        out += _jpeg_seg(0xDA, head)
        writer = _BitWriter()
        if ss == 0:
            if ah == 0:
                dc_first(writer, members, al)
            else:
                dc_refine(writer, members, al)
        elif ah == 0:
            ac_first(writer, members[0], ss, se, al)
        else:
            ac_refine(writer, members[0], ss, se, al)
        out += writer.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# GIF (LZW decode, GIF87a/89a, palettes, interlace, animation)
# ---------------------------------------------------------------------------

def _lzw_decode(data: bytes, min_code_size: int,
                limit: int = MAX_DECODE_PIXELS) -> list[int] | None:
    """GIF-variant LZW: LSB-first bit packing, variable width, clear/EOI.
    Output is capped at ``limit`` symbols (LZW expands quadratically on
    adversarial input — the cap keeps a hostile blob from ballooning)."""
    if not 2 <= min_code_size <= 11:
        # GIF caps the root size at 11; an unvalidated byte here would
        # make the dictionary init try range(2**min_code) — task hostage
        return None
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    dictionary: list[list[int]] = [[i] for i in range(clear)] + [[], []]
    out: list[int] = []
    prev: list[int] | None = None
    acc = nbits = 0
    pos = 0
    n = len(data)
    while True:
        while nbits < width:
            if pos >= n:
                return out  # truncated stream: return what decoded
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            dictionary = [[i] for i in range(clear)] + [[], []]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return out
        if code < len(dictionary) and (code < clear or dictionary[code]):
            entry = dictionary[code]
        elif code == len(dictionary) and prev is not None:
            entry = prev + [prev[0]]
        else:
            return None  # corrupt
        out.extend(entry)
        if len(out) > limit:
            return out[:limit]
        if prev is not None:
            dictionary.append(prev + [entry[0]])
            if len(dictionary) == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif(payload: bytes) -> tuple[list[np.ndarray], list[int]] | None:
    """GIF → (list of (h, w, 3) uint8 RGB frames, per-frame delay ms).

    Real decode: logical screen + palettes → per-image LZW inflate →
    interlace reorder → transparency-aware compositing onto the running
    canvas (animation).  Returns None for non-GIF payloads.
    """
    b = payload
    if b[:6] not in (b"GIF87a", b"GIF89a"):
        return None
    try:
        w = int.from_bytes(b[6:8], "little")
        h = int.from_bytes(b[8:10], "little")
        packed = b[10]
        pos = 13
        gct = None
        if packed & 0x80:
            size = 3 * (2 << (packed & 7))
            gct = np.frombuffer(b[pos:pos + size],
                                dtype=np.uint8).reshape(-1, 3)
            pos += size
        if not w or not h or w * h > MAX_DECODE_PIXELS:
            return None
        canvas = np.zeros((h, w, 3), dtype=np.uint8)
        bg_rgb: np.ndarray | int = 0
        if gct is not None and len(gct) > (b[11] if b[11] < len(gct) else 0):
            bg_rgb = gct[b[11]] if b[11] < len(gct) else 0
            canvas[:] = bg_rgb
        frames: list[np.ndarray] = []
        delays: list[int] = []
        delay_ms = 0
        transparent = None
        disposal = 0
        while pos < len(b):
            block = b[pos]
            pos += 1
            if block == 0x3B:        # trailer
                break
            if block == 0x21:        # extension
                label = b[pos]
                pos += 1
                if label == 0xF9 and b[pos] >= 4:   # graphic control
                    flags = b[pos + 1]
                    delay_ms = int.from_bytes(b[pos + 2:pos + 4],
                                              "little") * 10
                    transparent = b[pos + 4] if flags & 1 else None
                    disposal = (flags >> 2) & 7
                while True:          # skip/consume sub-blocks
                    sz = b[pos]
                    pos += 1 + sz
                    if sz == 0:
                        break
                continue
            if block != 0x2C:        # not an image descriptor
                return None
            il = int.from_bytes(b[pos:pos + 2], "little")
            it = int.from_bytes(b[pos + 2:pos + 4], "little")
            iw = int.from_bytes(b[pos + 4:pos + 6], "little")
            ih = int.from_bytes(b[pos + 6:pos + 8], "little")
            ipacked = b[pos + 8]
            pos += 9
            pal = gct
            if ipacked & 0x80:
                size = 3 * (2 << (ipacked & 7))
                pal = np.frombuffer(b[pos:pos + size],
                                    dtype=np.uint8).reshape(-1, 3)
                pos += size
            if (pal is None or not iw or not ih
                    or iw * ih > MAX_DECODE_PIXELS):
                return None
            min_code = b[pos]
            pos += 1
            lzw = bytearray()
            while True:
                sz = b[pos]
                pos += 1
                if sz == 0:
                    break
                lzw += b[pos:pos + sz]
                pos += sz
            idx = _lzw_decode(bytes(lzw), min_code, limit=iw * ih)
            if idx is None or len(idx) < iw * ih:
                return None
            arr = np.asarray(idx[:iw * ih], dtype=np.int32).reshape(ih, iw)
            if ipacked & 0x40:       # interlaced: reorder rows (4 passes)
                ordered = np.empty_like(arr)
                src = 0
                for start, step in _GIF_INTERLACE:
                    for y in range(start, ih, step):
                        ordered[y] = arr[src]
                        src += 1
                arr = ordered
            arr = np.clip(arr, 0, len(pal) - 1)
            # disposal 3 (restore-previous) needs the pre-frame canvas —
            # copy only when that disposal is in force
            prev = canvas.copy() if disposal == 3 else None
            sub = canvas[it:it + ih, il:il + iw]
            painted = pal[arr]
            if transparent is not None:
                mask = (np.asarray(idx[:iw * ih], dtype=np.int32)
                        .reshape(ih, iw) == transparent)
                painted = np.where(mask[..., None], sub, painted)
            canvas[it:it + ih, il:il + iw] = painted
            # aggregate cap: each frame is a full canvas copy, so a large
            # screen + thousands of tiny sub-images must not balloon
            if (len(frames) + 1) * w * h > MAX_DECODE_PIXELS:
                return None
            frames.append(canvas.copy())
            delays.append(delay_ms)
            # GIF89a disposal AFTER display, before the next frame:
            # 2 = restore the frame REGION to the background color (the
            # sprite-over-background animation form — without it later
            # frames show stale sprite trails), 3 = restore the whole
            # canvas to its pre-frame state; 0/1 = leave as composited
            if disposal == 2:
                canvas[it:it + ih, il:il + iw] = bg_rgb
            elif disposal == 3 and prev is not None:
                canvas = prev
            delay_ms = 0
            transparent = None
            disposal = 0
        if not frames:
            return None
        return frames, delays
    except Exception:
        # crash-proof decode boundary — malformed sub-block chains,
        # palette overruns, or slice-shape mismatches degrade to None
        return None


def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """GIF-variant LZW encoder (the differential twin for _lzw_decode)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = min_code_size + 1
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    emit(clear, width)
    prefix: tuple[int, ...] = ()
    for sym in indices:
        cand = prefix + (sym,)
        if cand in table:
            prefix = cand
            continue
        emit(table[prefix], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:        # table full: reset
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        prefix = (sym,)
    if prefix:
        emit(table[prefix], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def encode_gif(frames: list[np.ndarray], delay_ms: int = 100) -> bytes:
    """RGB frames (≤256 distinct colors TOTAL) → animated GIF89a bytes."""
    colors: dict[tuple[int, int, int], int] = {}
    for f in frames:
        for c in {tuple(int(v) for v in c)
                  for c in f.reshape(-1, 3).tolist()}:
            if c not in colors:
                colors[c] = len(colors)
    if len(colors) > 256:
        raise ValueError("encode_gif: more than 256 distinct colors")
    depth = max(1, (len(colors) - 1).bit_length())
    pal_size = 1 << depth
    palette = np.zeros((pal_size, 3), dtype=np.uint8)
    for c, i in colors.items():
        palette[i] = c
    h, w = frames[0].shape[:2]
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    out += palette.tobytes()
    lut = {c: i for c, i in colors.items()}
    delay_cs = min(max(delay_ms // 10, 0), 0xFFFF)   # u16 centiseconds
    for f in frames:
        out += bytes([0x21, 0xF9, 4, 0,
                      delay_cs & 0xFF, (delay_cs >> 8) & 0xFF, 0, 0])
        out += bytes([0x2C]) + struct.pack("<HHHHB", 0, 0, w, h, 0)
        idx = [lut[tuple(int(v) for v in px)]
               for px in f.reshape(-1, 3).tolist()]
        min_code = max(2, depth)
        out.append(min_code)
        lzw = _lzw_encode(idx, min_code)
        for i in range(0, len(lzw), 255):
            chunk_ = lzw[i:i + 255]
            out.append(len(chunk_))
            out += chunk_
        out.append(0)
    out.append(0x3B)
    return bytes(out)


# ---------------------------------------------------------------------------
# AVI / MJPEG (RIFF demux; frames are baseline JPEGs → decode_jpeg)
# ---------------------------------------------------------------------------

def decode_avi_mjpeg(payload: bytes) -> tuple[list[bytes], float] | None:
    """Motion-JPEG AVI → (list of JPEG frame blobs, frames-per-second).

    Real container demux: RIFF walk → ``avih`` main header (µs/frame) →
    ``movi`` LIST → ``00dc``/``00db`` video chunks in stream order.  The
    frames themselves are baseline JPEGs handled by :func:`decode_jpeg`.
    Returns None for non-AVI payloads or AVIs with no video chunks.
    """
    b = payload
    if len(b) < 12 or b[0:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    us_per_frame = 0
    frames: list[bytes] = []

    # iterative walk (a hostile deeply-nested LIST chain must not blow
    # the recursion limit inside an executor)
    try:
        stack = [(12, min(len(b), 8 + int.from_bytes(b[4:8], "little")))]
        while stack:
            pos, end = stack.pop()
            while pos + 8 <= end:
                tag = b[pos:pos + 4]
                size = int.from_bytes(b[pos + 4:pos + 8], "little")
                body = pos + 8
                if body + size > end:
                    break
                if tag == b"LIST":
                    stack.append((body + size + (size & 1), end))
                    pos, end = body + 4, body + size  # descend
                    continue
                if tag == b"avih" and size >= 4:
                    us_per_frame = int.from_bytes(b[body:body + 4], "little")
                elif tag[2:4] in (b"dc", b"db") and size > 0:
                    frames.append(b[body:body + size])
                pos = body + size + (size & 1)      # chunks pad to even
    except Exception:
        return None
    if not frames:
        return None
    fps = 1e6 / us_per_frame if us_per_frame else 25.0
    return frames, fps


def encode_avi_mjpeg(frames: list[bytes], fps: int = 25) -> bytes:
    """JPEG frame blobs → minimal valid Motion-JPEG AVI bytes."""
    def chunk(tag: bytes, data: bytes) -> bytes:
        return tag + struct.pack("<I", len(data)) + data + (
            b"\x00" if len(data) & 1 else b"")

    def lst(four: bytes, data: bytes) -> bytes:
        return chunk(b"LIST", four + data)

    n = len(frames)
    avih = struct.pack("<14I", 1_000_000 // max(1, fps), 0, 0, 0x10, n,
                       0, 1, 0, 0, 0, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack("<IHHIIIIIIIII", 0, 0, 0, 0,
                                            1, fps, 0, n, 0, 0, 0, 0))
    strf = struct.pack("<IiiHH4sIiiII", 40, 0, 0, 1, 24, b"MJPG",
                       0, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ---------------------------------------------------------------------------
# WAV (PCM-16, stdlib wave)
# ---------------------------------------------------------------------------

def decode_wav(payload: bytes) -> tuple[np.ndarray, int] | None:
    """PCM-16 WAV → (samples int16 [n] mono-mixed, framerate); None if not."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(payload), "rb") as wf:
            if wf.getsampwidth() != 2:
                return None
            rate = wf.getframerate()
            nch = wf.getnchannels()
            raw = wf.readframes(wf.getnframes())
        # a truncated/corrupt data chunk can leave a partial frame — trim to
        # whole frames instead of letting frombuffer/reshape raise and kill
        # the Spark task (one bad blob must never be job-fatal)
        frame_bytes = 2 * max(1, nch)
        raw = raw[:len(raw) // frame_bytes * frame_bytes]
        pcm = np.frombuffer(raw, dtype="<i2")
        if nch > 1:
            pcm = pcm.reshape(-1, nch).mean(axis=1).astype(np.int16)
    except Exception:
        # crash-proof decode boundary: stdlib wave/chunk raise bare
        # RuntimeError on some malformed headers (fuzz-found), beyond the
        # documented wave.Error — degrade to None, never kill the task
        return None
    return pcm, rate


def encode_wav(pcm: np.ndarray, rate: int) -> bytes:
    """Mono int16 samples → PCM-16 WAV bytes."""
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(rate)
        wf.writeframes(np.asarray(pcm, dtype="<i2").tobytes())
    return buf.getvalue()
