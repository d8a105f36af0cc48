"""Multimodal column handling: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched pandas UDFs.

The Spark-side plumbing is real and tested: schemas and mapInPandas
batch iteration. The common codecs decode NATIVELY in
stdlib+numpy (no imaging/audio library): BMP, 8-bit PNG, Huffman JPEG
(baseline sequential AND progressive), PCM WAV, and FLAC. Only exotic
variants (arithmetic-coded/hierarchical/12-bit JPEG, 16-bit/palette
PNG) and MP3 fall to ``_decode_*_impl``'s deterministic fake or raise
NotImplementedError. Swapping in Pillow/torchaudio/PyAV changes ONLY
those functions.

Scale notes:
- decode is mapInPandas (one Python worker round-trip per partition,
  Arrow transfer) — never a per-row UDF;
- feature outputs are fixed-length arrays -> feed operators/similarity.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from ..worker import on_worker

IMAGE_FEATURES_SCHEMA = "media_id bigint, width int, height int, features array<float>"
AUDIO_FEATURES_SCHEMA = "media_id bigint, n_samples int, features array<float>"
FRAME_SAMPLE_SCHEMA = "media_id bigint, frame_idx int, frame binary"


def _decode_bmp(blob: bytes):
    """REAL image decode for uncompressed 24-bit BMP — pure stdlib
    struct + numpy, no imaging library. Returns (width, height,
    8-float features): mean R/G/B plus luminance mean/std/min/max and
    the fraction of above-mean-luminance pixels."""
    import struct

    import numpy as np

    offset = struct.unpack_from("<I", blob, 10)[0]
    _hsz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", blob, 14)
    if bpp != 24 or comp != 0:
        raise ValueError(f"only 24-bit uncompressed BMP (got bpp={bpp}, comp={comp})")
    row = ((w * 3 + 3) // 4) * 4  # rows pad to 4 bytes
    bottom_up = h > 0
    h = abs(h)
    px = (
        np.frombuffer(blob, dtype=np.uint8, count=row * h, offset=offset)
        .reshape(h, row)[:, : w * 3]
        .reshape(h, w, 3)
        .astype(np.float64)
    )
    if bottom_up:
        px = px[::-1]
    return w, h, _rgb_features(px[..., ::-1])  # BMP stores BGR; use RGB


def _rgb_features(px):
    """Shared 8-float feature vector over an (h, w, 3) float array in
    RGB order: mean R/G/B, luminance mean/std/min/max, bright-pixel
    fraction (identical to the BMP path's output contract)."""
    r, g, b = px[..., 0], px[..., 1], px[..., 2]
    lum = 0.299 * r + 0.587 * g + 0.114 * b
    return [
        float(r.mean()) / 255.0,
        float(g.mean()) / 255.0,
        float(b.mean()) / 255.0,
        float(lum.mean()) / 255.0,
        float(lum.std()) / 255.0,
        float(lum.min()) / 255.0,
        float(lum.max()) / 255.0,
        float((lum > lum.mean()).mean()),
    ]


def _decode_png(blob: bytes):
    """REAL image decode for 8-bit truecolor PNG (color types 2 RGB /
    6 RGBA, no interlace) — PNG is zlib-deflated filtered scanlines,
    so stdlib ``zlib`` + ``struct`` suffice; no imaging library.
    Implements all five scanline filters (None/Sub/Up/Average/Paeth,
    RFC 2083 §6). Returns (width, height, 8-float features) with the
    same feature contract as _decode_bmp; alpha is ignored for
    features."""
    import struct
    import zlib

    import numpy as np

    if blob[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG signature")
    pos, idat, meta = 8, [], None
    while pos + 8 <= len(blob):
        (length,) = struct.unpack_from(">I", blob, pos)
        ctype = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data
            )
            meta = (w, h, depth, color, comp, filt, interlace)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
        pos += 12 + length  # length + type + data + crc
    if meta is None or not idat:
        raise ValueError("missing IHDR/IDAT")
    w, h, depth, color, comp, filt, interlace = meta
    if depth != 8 or color not in (2, 6) or comp != 0 or filt != 0 or interlace != 0:
        raise ValueError(
            f"only 8-bit RGB/RGBA non-interlaced PNG (depth={depth}, "
            f"color={color}, interlace={interlace})"
        )
    ch = 3 if color == 2 else 4
    raw = zlib.decompress(b"".join(idat))
    stride = w * ch
    if len(raw) < h * (stride + 1):
        raise ValueError("truncated PNG pixel data")
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint16)
    for y in range(h):
        row_start = y * (stride + 1)
        ftype = raw[row_start]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=row_start + 1
        ).astype(np.uint16)
        if ftype == 0:  # None
            rec = line
        elif ftype == 2:  # Up
            rec = (line + prev) & 0xFF
        else:  # Sub/Average/Paeth carry an in-row prefix dependency
            rec = np.zeros(stride, dtype=np.uint16)
            for i in range(stride):
                a = rec[i - ch] if i >= ch else 0  # left
                b = prev[i]  # up
                if ftype == 1:  # Sub
                    pred = a
                elif ftype == 3:  # Average
                    pred = (int(a) + int(b)) // 2
                elif ftype == 4:  # Paeth
                    c = prev[i - ch] if i >= ch else 0  # upper-left
                    p = int(a) + int(b) - int(c)
                    pa, pb, pc = abs(p - int(a)), abs(p - int(b)), abs(p - int(c))
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad PNG filter type {ftype}")
                rec[i] = (line[i] + pred) & 0xFF
        out[y] = rec.astype(np.uint8)
        prev = rec
    px = out.reshape(h, w, ch)[:, :, :3].astype(np.float64)
    return w, h, _rgb_features(px)


def _jpeg_zigzag():
    """The JPEG zigzag coefficient order (ISO 10918-1 Figure 5) derived
    rather than transcribed: diagonals by r+c, even diagonals walked
    down-left (by column), odd diagonals up-right (by row)."""
    return sorted(
        ((r, c) for r in range(8) for c in range(8)),
        key=lambda rc: (
            rc[0] + rc[1],
            rc[1] if (rc[0] + rc[1]) % 2 == 0 else rc[0],
        ),
    )


def _dct_basis():
    """Orthonormal 8-point DCT-II basis matrix M (M @ M.T = I):
    spatial = M.T @ coefs @ M, coefs = M @ spatial @ M.T."""
    import numpy as np

    u = np.arange(8).reshape(-1, 1)
    x = np.arange(8).reshape(1, -1)
    m = np.cos((2 * x + 1) * u * np.pi / 16) * np.sqrt(2.0 / 8.0)
    m[0] = np.sqrt(1.0 / 8.0)
    return m


def _build_huff(counts, symbols):
    """Canonical Huffman table (JPEG DHT): {(length, code): symbol}."""
    table, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _JpegBits:
    """MSB-first bit reader over the entropy-coded segment, honoring
    0xFF00 byte stuffing; restart markers are consumed explicitly via
    restart(). Any other marker mid-stream raises (corrupt input)."""

    def __init__(self, buf: bytes, pos: int):
        self.buf, self.pos = buf, pos
        self.cur, self.nbits = 0, 0

    def bit(self) -> int:
        if self.nbits == 0:
            b = self.buf[self.pos]
            if b == 0xFF:
                if self.buf[self.pos + 1] != 0x00:
                    raise ValueError("marker inside entropy data")
                self.pos += 2
            else:
                self.pos += 1
            self.cur, self.nbits = b, 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def huff(self, table) -> int:
        code = 0
        for length in range(1, 17):
            code = (code << 1) | self.bit()
            sym = table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("bad huffman code")

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def receive_extend(self, s: int) -> int:
        v = self.receive(s)
        return v - (1 << s) + 1 if s and v < (1 << (s - 1)) else v

    def restart(self) -> None:
        self.nbits = 0  # discard partial byte (encoder pads to align)
        if self.buf[self.pos] != 0xFF or not (
            0xD0 <= self.buf[self.pos + 1] <= 0xD7
        ):
            raise ValueError("expected restart marker")
        self.pos += 2


def _jpeg_decode_scan(
    blob, pos, frame, scan, ss, se, ah, al, huff, coef, restart_interval
):
    """Entropy-decode ONE scan into the per-component zigzag
    coefficient stores. Handles all four progressive scan kinds (DC
    first/refine, AC first/refine) plus the baseline full-band scan
    (Ss=0, Se=63, Ah=Al=0) through the same handlers. Interleaved
    (ns>1) scans walk the MCU grid; single-component scans walk the
    component's OWN ceil-dimension block grid in raster order (T.81
    A.2.2). Returns the byte offset of the next marker."""
    w, h, comps = frame
    by_id = {cid: (hs, vs) for cid, hs, vs, _ in comps}
    max_h = max(hs for _, hs, _, _ in comps)
    max_v = max(vs for _, _, vs, _ in comps)
    mcux = -(-w // (8 * max_h))
    interleaved = len(scan) > 1
    if interleaved:
        mcuy = -(-h // (8 * max_v))
        units = mcux * mcuy
    else:
        cid0, _, _ = scan[0]
        hs, vs = by_id[cid0]
        comp_w = -(-(w * hs) // max_h)
        comp_h = -(-(h * vs) // max_v)
        cbw, cbh = -(-comp_w // 8), -(-comp_h // 8)
        units = cbw * cbh
    br = _JpegBits(blob, pos)
    pred = {cid: 0 for cid, _, _ in scan}
    eobrun = 0
    k0 = max(ss, 1)
    for ui in range(units):
        if restart_interval and ui and ui % restart_interval == 0:
            br.restart()
            pred = {cid: 0 for cid in pred}
            eobrun = 0
        blocks = []
        if interleaved:
            my, mx = divmod(ui, mcux)
            for cid, td, ta in scan:
                hs, vs = by_id[cid]
                for byi in range(vs):
                    for bxi in range(hs):
                        blocks.append(
                            (cid, my * vs + byi, mx * hs + bxi, td, ta)
                        )
        else:
            cid, td, ta = scan[0]
            by, bx = divmod(ui, cbw)
            blocks = [(cid, by, bx, td, ta)]
        for cid, by, bx, td, ta in blocks:
            blk = coef[cid][by, bx]
            if ss == 0:
                if ah == 0:  # DC first pass (baseline included)
                    s = br.huff(huff[(0, td)])
                    pred[cid] += br.receive_extend(s)
                    blk[0] = pred[cid] << al
                elif br.bit():  # DC refinement: one bit per block
                    blk[0] |= 1 << al
            if se >= 1:
                if ah == 0:  # AC first pass (baseline included)
                    if eobrun > 0:
                        eobrun -= 1
                        continue
                    k = k0
                    while k <= se:
                        rs = br.huff(huff[(1, ta)])
                        r, s = rs >> 4, rs & 15
                        if s == 0:
                            if r != 15:  # EOBn (baseline EOB: r=0)
                                eobrun = (1 << r) - 1
                                if r:
                                    eobrun += br.receive(r)
                                break
                            k += 16  # ZRL
                            continue
                        k += r
                        if k > se:
                            raise ValueError("AC index overflow")
                        blk[k] = br.receive_extend(s) << al
                        k += 1
                else:  # AC refinement
                    eobrun = _jpeg_ac_refine(
                        br, blk, k0, se, al, huff[(1, ta)], eobrun
                    )
    # skip pad bits / stuffing to the next real marker
    p = br.pos
    while p + 1 < len(blob):
        if blob[p] == 0xFF and blob[p + 1] != 0x00 and not (
            0xD0 <= blob[p + 1] <= 0xD7
        ):
            break
        p += 1
    return p


def _jpeg_ac_refine(br, blk, k0, se, al, table, eobrun):
    """AC successive-approximation refinement for one block (ITU T.81
    G.2 / the IJG decode_mcu_AC_refine control flow): correction bits
    for history-nonzero coefficients, (run,1) codes placing newly-
    nonzero ones, EOB runs covering whole blocks whose remaining band
    is correction-only. Returns the updated EOB-run counter."""
    p1, m1 = 1 << al, -1 << al
    k = k0
    if eobrun == 0:
        while k <= se:
            rs = br.huff(table)
            r, s = rs >> 4, rs & 15
            val = 0
            if s == 0:
                if r != 15:  # EOBn: rest of this block is corrections
                    eobrun = 1 << r
                    if r:
                        eobrun += br.receive(r)
                    break
                # ZRL: skip 16 zero-history slots (corrections en route)
            else:
                if s != 1:
                    raise ValueError("bad refinement magnitude")
                val = p1 if br.bit() else m1
            while k <= se:
                if blk[k] != 0:
                    if br.bit() and not (blk[k] & p1):
                        blk[k] += p1 if blk[k] >= 0 else m1
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                blk[k] = val
            k += 1
    if eobrun > 0:
        while k <= se:  # trailing correction bits under the EOB run
            if blk[k] != 0:
                if br.bit() and not (blk[k] & p1):
                    blk[k] += p1 if blk[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_jpeg(blob: bytes):
    """REAL image decode for Huffman JPEG, baseline sequential
    (SOF0/SOF1) AND progressive (SOF2) — pure stdlib struct + numpy,
    no imaging library. Marker parse (DQT/DHT/SOF/DRI/SOS); every
    scan decodes into per-component zigzag COEFFICIENT stores (the
    progressive model: spectral-selection bands, successive-
    approximation first+refine passes with EOB runs; a baseline scan
    is the Ss=0..63, Ah=Al=0 special case of the same handlers), with
    byte stuffing and restart markers; then one vectorized pass
    dequantizes, de-zigzags, IDCTs via the orthonormal DCT basis,
    upsamples chroma per sampling factor, and converts BT.601
    YCbCr->RGB (grayscale replicates Y). Arithmetic coding,
    hierarchical, lossless, and 12-bit frames raise and fall to the
    caller's fake/raise path. Returns (width, height, 8-float
    features) with the _decode_bmp feature contract."""
    import struct

    import numpy as np

    if blob[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG signature")
    qt: dict = {}
    huff: dict = {}
    frame = None
    restart_interval = 0
    coef: dict = {}
    saw_scan = False
    pos = 2
    while pos + 2 <= len(blob):
        if blob[pos] != 0xFF:
            raise ValueError("expected marker")
        marker = blob[pos + 1]
        pos += 2
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            continue
        if marker == 0xD9:  # EOI
            break
        (seglen,) = struct.unpack_from(">H", blob, pos)
        data = blob[pos + 2 : pos + seglen]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(data):
                pq, tq = data[i] >> 4, data[i] & 15
                i += 1
                if pq == 0:
                    qt[tq] = np.frombuffer(
                        data, np.uint8, 64, i
                    ).astype(np.int32)
                    i += 64
                else:
                    qt[tq] = np.frombuffer(
                        data[i : i + 128], ">u2"
                    ).astype(np.int32)
                    i += 128
        elif marker == 0xC4:  # DHT (tables may be redefined per scan)
            i = 0
            while i < len(data):
                tc, th = data[i] >> 4, data[i] & 15
                i += 1
                counts = list(data[i : i + 16])
                i += 16
                n = sum(counts)
                huff[(tc, th)] = _build_huff(counts, list(data[i : i + n]))
                i += n
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext seq / prog
            prec = data[0]
            if prec != 8:
                raise ValueError(f"unsupported precision {prec}")
            h, w = struct.unpack_from(">HH", data, 1)
            nc = data[5]
            comps = []
            for ci in range(nc):
                cid, hv, tq = data[6 + 3 * ci : 9 + 3 * ci]
                comps.append((cid, hv >> 4, hv & 15, tq))
            frame = (w, h, comps)
            max_h = max(hs for _, hs, _, _ in comps)
            max_v = max(vs for _, _, vs, _ in comps)
            if any(max_h % hs or max_v % vs for _, hs, vs, _ in comps):
                raise ValueError("non-integer sampling ratio")
            mcux = -(-w // (8 * max_h))
            mcuy = -(-h // (8 * max_v))
            for cid, hs, vs, _ in comps:
                coef[cid] = np.zeros((mcuy * vs, mcux * hs, 64), np.int32)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7,
                        0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(f"unsupported JPEG frame type 0x{marker:02x}")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", data)
        elif marker == 0xDA:  # SOS
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = data[0]
            scan = [
                (data[1 + 2 * i], data[2 + 2 * i] >> 4, data[2 + 2 * i] & 15)
                for i in range(ns)
            ]
            ss, se = data[1 + 2 * ns], data[2 + 2 * ns]
            ah, al = data[3 + 2 * ns] >> 4, data[3 + 2 * ns] & 15
            pos = _jpeg_decode_scan(
                blob, pos + seglen, frame, scan, ss, se, ah, al,
                huff, coef, restart_interval,
            )
            saw_scan = True
            continue
        pos += seglen
    if frame is None or not saw_scan:
        raise ValueError("missing SOF/SOS")
    w, h, comps = frame
    max_h = max(hs for _, hs, _, _ in comps)
    max_v = max(vs for _, _, vs, _ in comps)
    zz = _jpeg_zigzag()
    m = _dct_basis()
    full = {}
    for cid, hs, vs, tq in comps:
        c = coef[cid].astype(np.int64) * qt[tq]  # both in zigzag order
        by, bx = c.shape[0], c.shape[1]
        deq = np.zeros((by, bx, 8, 8))
        for i, (r_, c_) in enumerate(zz):
            deq[:, :, r_, c_] = c[:, :, i]
        spatial = np.einsum("ij,abjk,kl->abil", m.T, deq, m) + 128.0
        p = spatial.transpose(0, 2, 1, 3).reshape(by * 8, bx * 8)
        p = np.repeat(np.repeat(p, max_v // vs, axis=0), max_h // hs, axis=1)
        full[cid] = p[:h, :w]
    if len(comps) == 1:
        px = np.clip(np.stack([full[comps[0][0]]] * 3, axis=-1), 0, 255)
    elif len(comps) == 3:
        y = full[comps[0][0]]
        cb = full[comps[1][0]] - 128.0
        cr = full[comps[2][0]] - 128.0
        px = np.clip(
            np.stack(
                [
                    y + 1.402 * cr,
                    y - 0.344136 * cb - 0.714136 * cr,
                    y + 1.772 * cb,
                ],
                axis=-1,
            ),
            0,
            255,
        )
    else:
        raise ValueError(f"unsupported component count {len(comps)}")
    return w, h, _rgb_features(px)


def _gif_lzw(data: bytes, min_code: int, npix: int):
    """GIF LZW decompress -> list of palette indices (variable code
    width, clear/EOI codes, table capped at 4096 per the spec)."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    table = [[i] for i in range(clear)] + [[], []]
    width = min_code + 1
    out: list = []
    prev = None
    acc = nbits = 0
    pos = 0
    while len(out) < npix and pos < len(data):
        acc |= data[pos] << nbits
        nbits += 8
        pos += 1
        while nbits >= width and len(out) < npix:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [[i] for i in range(clear)] + [[], []]
                width = min_code + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table[code]
            elif code < len(table) and table[code]:
                entry = table[code]
                table.append(prev + [entry[0]])
            elif code == len(table):
                entry = prev + [prev[0]]
                table.append(entry)
            else:
                raise ValueError("bad LZW code")
            out.extend(entry)
            prev = entry
            if len(table) >= (1 << width) and width < 12:
                width += 1
    return out


def _decode_gif(blob: bytes):
    """REAL image decode for GIF87a/GIF89a — stdlib + numpy, no
    imaging library: logical screen descriptor, global/local color
    tables, extension skipping, first image descriptor, LZW
    decompress, 4-pass interlace reorder, palette lookup. Returns
    (width, height, 8-float features) with the _decode_bmp contract.
    Animation frames after the first are ignored (features come from
    frame one, like any thumbnailer)."""
    import struct

    import numpy as np

    if blob[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF signature")
    sw, sh, flags, _bg, _ar = struct.unpack_from("<HHBBB", blob, 6)
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = np.frombuffer(blob, np.uint8, n * 3, pos).reshape(n, 3)
        pos += n * 3
    while pos < len(blob):
        b0 = blob[pos]
        pos += 1
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 1
            while blob[pos] != 0:
                pos += 1 + blob[pos]
            pos += 1
        elif b0 == 0x2C:  # image descriptor
            _lx, _ly, w, h, iflags = struct.unpack_from("<HHHHB", blob, pos)
            pos += 9
            pal = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                pal = np.frombuffer(blob, np.uint8, n * 3, pos).reshape(n, 3)
                pos += n * 3
            if pal is None:
                raise ValueError("no color table")
            min_code = blob[pos]
            pos += 1
            data = bytearray()
            while blob[pos] != 0:
                ln = blob[pos]
                data += blob[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            idx = _gif_lzw(bytes(data), min_code, w * h)
            if len(idx) < w * h:
                raise ValueError("truncated LZW stream")
            rows = np.array(idx, np.int32).reshape(h, w)
            if iflags & 0x40:  # 4-pass interlace: rows arrive reordered
                order = (
                    list(range(0, h, 8))
                    + list(range(4, h, 8))
                    + list(range(2, h, 4))
                    + list(range(1, h, 2))
                )
                deinter = np.empty_like(rows)
                deinter[order] = rows
                rows = deinter
            px = pal[rows].astype(np.float64)
            return w, h, _rgb_features(px)
        elif b0 == 0x3B:  # trailer
            break
        else:
            raise ValueError(f"unknown GIF block 0x{b0:02x}")
    raise ValueError("no image data in GIF")


def _decode_wav(blob: bytes):
    """REAL audio decode for PCM WAV — stdlib ``wave`` + numpy, no
    audio library. Returns (n_frames, 8-float features): RMS,
    zero-crossing rate, peak, mean, std, and duration/rate/channel
    descriptors."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(blob)) as wf:
        sr = wf.getframerate()
        n = wf.getnframes()
        ch = wf.getnchannels()
        sw = wf.getsampwidth()
        raw = wf.readframes(n)
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}[sw]
    x = np.frombuffer(raw, dtype=dtype).astype(np.float64)
    if sw == 1:
        x = x - 128.0
    x = x.reshape(-1, ch).mean(axis=1)
    x = x / float(1 << (8 * sw - 1))
    return n, _pcm_features(x, sr, n, ch)


def _pcm_features(x, sr: int, n: int, ch: int):
    """Shared 8-float audio feature vector over a normalized mono
    float array (identical contract for WAV and FLAC): RMS,
    zero-crossing rate, peak, mean, std, duration/rate/channel
    descriptors."""
    import numpy as np

    zc = (
        float(np.mean(np.signbit(x[1:]) != np.signbit(x[:-1])))
        if len(x) > 1
        else 0.0
    )
    return [
        float(np.sqrt(np.mean(x * x))),
        zc,
        float(np.max(np.abs(x))) if len(x) else 0.0,
        float(np.mean(x)),
        float(np.std(x)),
        min(n / sr, 1.0) if sr else 0.0,
        sr / 96000.0,
        float(ch),
    ]


class _FlacBits:
    """MSB-first bit reader for FLAC frame payloads."""

    def __init__(self, buf: bytes, bytepos: int = 0):
        self.buf = buf
        self.bitpos = bytepos * 8

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            byte = self.buf[self.bitpos >> 3]
            v = (v << 1) | ((byte >> (7 - (self.bitpos & 7))) & 1)
            self.bitpos += 1
        return v

    def sbits(self, n: int) -> int:
        v = self.bits(n)
        return v - (1 << n) if v >= (1 << (n - 1)) else v

    def unary(self) -> int:
        q = 0
        while self.bits(1) == 0:
            q += 1
        return q

    def align(self) -> None:
        self.bitpos = (self.bitpos + 7) & ~7

    @property
    def bytepos(self) -> int:
        return self.bitpos >> 3


_FLAC_BS = {1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
            8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
            13: 8192, 14: 16384, 15: 32768}
_FLAC_SR = {1: 88200, 2: 176400, 3: 192000, 4: 8000, 5: 16000,
            6: 22050, 7: 24000, 8: 32000, 9: 44100, 10: 48000, 11: 96000}
_FLAC_BPS = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24}
_FIXED_COEFS = {0: [], 1: [1], 2: [2, -1], 3: [3, -3, 1], 4: [4, -6, 4, -1]}


def _flac_residual(br: _FlacBits, blocksize: int, order: int) -> list:
    method = br.bits(2)
    if method > 1:
        raise ValueError("reserved FLAC residual method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    porder = br.bits(4)
    nparts = 1 << porder
    res: list = []
    for part in range(nparts):
        count = blocksize >> porder
        if part == 0:
            count -= order
        param = br.bits(pbits)
        if param == escape:
            raw = br.bits(5)
            res.extend(br.sbits(raw) if raw else 0 for _ in range(count))
        else:
            for _ in range(count):
                q = br.unary()
                r = br.bits(param) if param else 0
                v = (q << param) | r
                res.append((v >> 1) ^ -(v & 1))  # zigzag -> signed
    return res


def _flac_subframe(br: _FlacBits, blocksize: int, bps: int) -> list:
    if br.bits(1) != 0:
        raise ValueError("bad FLAC subframe padding bit")
    code = br.bits(6)
    wasted = 0
    if br.bits(1):
        wasted = br.unary() + 1
    eff = bps - wasted
    if code == 0:  # CONSTANT
        v = br.sbits(eff)
        out = [v] * blocksize
    elif code == 1:  # VERBATIM
        out = [br.sbits(eff) for _ in range(blocksize)]
    elif 8 <= code <= 12:  # FIXED order 0..4
        order = code - 8
        out = [br.sbits(eff) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        coefs = _FIXED_COEFS[order]
        for i, r in enumerate(res):
            pred = sum(
                c * out[order + i - 1 - j] for j, c in enumerate(coefs)
            )
            out.append(r + pred)
    elif code >= 32:  # LPC, order = (code & 31) + 1
        order = (code & 31) + 1
        out = [br.sbits(eff) for _ in range(order)]
        precision = br.bits(4) + 1
        if precision == 16:
            raise ValueError("invalid FLAC LPC precision")
        shift = br.sbits(5)
        coefs = [br.sbits(precision) for _ in range(order)]
        res = _flac_residual(br, blocksize, order)
        for i, r in enumerate(res):
            acc = sum(
                c * out[order + i - 1 - j] for j, c in enumerate(coefs)
            )
            out.append(r + (acc >> shift))
    else:
        raise ValueError(f"reserved FLAC subframe type {code}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def _decode_flac(blob: bytes):
    """REAL audio decode for native FLAC — pure stdlib + numpy, no
    audio library: metadata/STREAMINFO parse, per-frame bit-level
    decode of all four subframe types (CONSTANT / VERBATIM / FIXED /
    LPC) with Rice-coded residual partitions, wasted-bits, and
    left/right/mid-side channel decorrelation. CRCs are parsed and
    skipped (content equality is asserted against the WAV twin in
    tests). Returns (n_frames, 8-float features) with the _decode_wav
    feature contract."""
    import numpy as np

    if blob[:4] != b"fLaC":
        raise ValueError("not a FLAC signature")
    pos = 4
    info = None
    while pos + 4 <= len(blob):
        hdr = blob[pos]
        btype, last = hdr & 0x7F, hdr >> 7
        length = int.from_bytes(blob[pos + 1 : pos + 4], "big")
        if btype == 0:
            br = _FlacBits(blob, pos + 4)
            br.bits(16), br.bits(16), br.bits(24), br.bits(24)
            sr = br.bits(20)
            ch = br.bits(3) + 1
            bps = br.bits(5) + 1
            total = br.bits(36)
            info = (sr, ch, bps, total)
        pos += 4 + length
        if last:
            break
    if info is None:
        raise ValueError("missing FLAC STREAMINFO")
    sr, ch, bps, _total = info
    chans = [[] for _ in range(ch)]
    n_frames = 0
    while pos + 6 <= len(blob):
        if blob[pos] != 0xFF or (blob[pos + 1] & 0xFC) != 0xF8:
            raise ValueError("bad FLAC frame sync")
        bs_code = blob[pos + 2] >> 4
        sr_code = blob[pos + 2] & 0x0F
        ca = blob[pos + 3] >> 4
        sz_code = (blob[pos + 3] >> 1) & 0x07
        p = pos + 4
        # UTF-8-coded frame/sample number: length from the first byte
        first = blob[p]
        n_more = 0
        while (first << n_more) & 0x80 and n_more < 7:
            n_more += 1
        p += 1 + (n_more - 1 if n_more else 0)
        if bs_code == 6:
            blocksize = blob[p] + 1
            p += 1
        elif bs_code == 7:
            blocksize = int.from_bytes(blob[p : p + 2], "big") + 1
            p += 2
        elif bs_code in _FLAC_BS:
            blocksize = _FLAC_BS[bs_code]
        else:
            raise ValueError("reserved FLAC blocksize code")
        if sr_code == 12:
            p += 1
        elif sr_code in (13, 14):
            p += 2
        elif sr_code != 0 and sr_code not in _FLAC_SR:
            raise ValueError("bad FLAC sample-rate code")
        p += 1  # CRC-8 (parsed, not verified)
        fbps = bps if sz_code == 0 else _FLAC_BPS.get(sz_code)
        if fbps is None:
            raise ValueError("reserved FLAC sample-size code")
        br = _FlacBits(blob, p)
        if ca <= 7:  # independent channels
            if ca + 1 != ch:
                raise ValueError("channel-count mismatch")
            sub = [_flac_subframe(br, blocksize, fbps) for _ in range(ch)]
        elif ca == 8:  # left/side
            left = _flac_subframe(br, blocksize, fbps)
            side = _flac_subframe(br, blocksize, fbps + 1)
            sub = [left, [lv - sv for lv, sv in zip(left, side)]]
        elif ca == 9:  # right/side
            side = _flac_subframe(br, blocksize, fbps + 1)
            right = _flac_subframe(br, blocksize, fbps)
            sub = [[rv + sv for rv, sv in zip(right, side)], right]
        elif ca == 10:  # mid/side
            mid = _flac_subframe(br, blocksize, fbps)
            side = _flac_subframe(br, blocksize, fbps + 1)
            sub = [[], []]
            for mv, sv in zip(mid, side):
                m2 = (mv << 1) | (sv & 1)
                sub[0].append((m2 + sv) >> 1)
                sub[1].append((m2 - sv) >> 1)
        else:
            raise ValueError("reserved FLAC channel assignment")
        for c in range(ch):
            chans[c].extend(sub[c])
        n_frames += blocksize
        br.align()
        pos = br.bytepos + 2  # skip frame CRC-16
    x = np.array(chans, dtype=np.float64).mean(axis=0)
    x = x / float(1 << (bps - 1))
    return n_frames, _pcm_features(x, sr, n_frames, ch)


def _decode_image_impl(blob: bytes, fake: bool):
    """Image decode with container sniffing: real BMP ('BM' magic),
    8-bit RGB/RGBA PNG, GIF87a/89a (LZW, interlace, local palettes),
    and Huffman JPEG — baseline sequential (SOF0/SOF1) AND progressive
    (SOF2) — all decode NATIVELY (stdlib struct/zlib + numpy, no
    imaging library); only arithmetic-coded / hierarchical / 12-bit
    JPEG and exotic PNG subtypes fall to the deterministic md5 fake
    (fake=True) or raise. The swap-in seam for Pillow is this dispatch
    alone."""
    if blob[:2] == b"BM" and len(blob) >= 54:
        try:
            return _decode_bmp(blob)
        except Exception:
            # magic collision (e.g. a text payload starting 'BM'):
            # ASCII bytes can never satisfy the bpp==24/comp==0 header
            # check, so genuine fixtures deterministically fall through
            pass
    if blob[:8] == b"\x89PNG\r\n\x1a\n":
        try:
            return _decode_png(blob)
        except Exception:
            # unsupported subtype (16-bit, palette, interlaced) falls
            # through to the fake/raise path below
            pass
    if blob[:2] == b"\xff\xd8":
        try:
            return _decode_jpeg(blob)
        except Exception:
            # arithmetic-coded, hierarchical, 12-bit, or corrupt falls
            # through to the fake/raise path below
            pass
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        try:
            return _decode_gif(blob)
        except Exception:
            pass  # corrupt stream falls through to the fake/raise path
    if not fake:
        raise NotImplementedError(
            "arithmetic-coded/hierarchical/12-bit JPEG and exotic PNG "
            "subtypes require an imaging library not present in this "
            "environment; pass fake=True for the deterministic stub "
            "(uncompressed BMP, 8-bit RGB/RGBA PNG, and Huffman JPEG "
            "-- baseline AND progressive -- decode natively)"
        )
    import hashlib

    h = int(hashlib.md5(blob).hexdigest()[:8], 16) % 251
    width, height = 4, 4
    feats = [((h + i * 37) % 256) / 255.0 for i in range(8)]
    return width, height, feats


# MPEG-1 Layer III header tables — these ARE spec-exact (ISO 11172-3
# §2.4.2.3): 4-bit bitrate index -> kbit/s, 2-bit samplerate index.
_MP3_BITRATES_V1L3 = (
    None, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320,
    None,
)
_MP3_BITRATES_V2L3 = (
    None, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160, None,
)
_MP3_RATES = {3: (44100, 48000, 32000), 2: (22050, 24000, 16000),
              0: (11025, 12000, 8000)}


def parse_mp3_frames(blob: bytes):
    """NATIVE MPEG audio container parse — pure spec arithmetic, no
    codec library: skips an ID3v2 prefix (synchsafe size) and ID3v1
    tail, walks the frame-sync chain, and returns
    (n_frames, sample_rate, channels, total_samples, bitrate_sum_kbps,
    is_vbr) for MPEG-1/2 Layer III streams. Frame length is the §2.4.3.1
    formula 144 * bitrate / samplerate + padding (72 * for MPEG-2's
    576-sample granule); the walk resynchronizes only at exact
    header-aligned offsets, so random byte soup never parses (>= 2
    chained frames required). This is the verifiable half of MP3
    support; see _decode_audio_impl for why sample reconstruction
    stays behind the seam."""
    pos = 0
    end = len(blob)
    if blob[:3] == b"ID3" and end >= 10:
        sz = (
            (blob[6] & 0x7F) << 21 | (blob[7] & 0x7F) << 14
            | (blob[8] & 0x7F) << 7 | (blob[9] & 0x7F)
        )
        pos = 10 + sz
        if blob[5] & 0x10:
            # ID3v2.4 footer flag: the synchsafe size EXCLUDES the
            # 10-byte footer ('3DI' + version/flags/size) that follows
            # the tag body — skip it or the sync check lands on '3DI'
            pos += 10
    if end >= 128 and blob[end - 128 : end - 125] == b"TAG":
        end -= 128
    n_frames = 0
    sr = ch = 0
    total_samples = 0
    bitrate_sum = 0
    br_min = br_max = 0
    while pos + 4 <= end:
        b0, b1, b2, b3 = blob[pos : pos + 4]
        if b0 != 0xFF or (b1 & 0xE0) != 0xE0:
            break
        version = (b1 >> 3) & 0x3  # 3=MPEG1, 2=MPEG2, 0=MPEG2.5
        layer = (b1 >> 1) & 0x3  # 1 = Layer III
        if layer != 1 or version == 1:
            break
        br_idx = (b2 >> 4) & 0xF
        sr_idx = (b2 >> 2) & 0x3
        padding = (b2 >> 1) & 0x1
        mode = (b3 >> 6) & 0x3
        table = _MP3_BITRATES_V1L3 if version == 3 else _MP3_BITRATES_V2L3
        if table[br_idx] is None or sr_idx == 3:
            break
        bitrate = table[br_idx] * 1000
        rate = _MP3_RATES[version][sr_idx]
        spf = 1152 if version == 3 else 576  # samples per frame
        flen = (spf // 8) * bitrate // rate + padding
        if flen <= 4 or pos + flen > end:
            break
        n_frames += 1
        sr = rate
        ch = 1 if mode == 3 else 2
        total_samples += spf
        bitrate_sum += table[br_idx]
        br_min = table[br_idx] if n_frames == 1 else min(br_min, table[br_idx])
        br_max = max(br_max, table[br_idx])
        pos += flen
    if n_frames < 2:
        raise ValueError("not an MPEG Layer III frame chain")
    return n_frames, sr, ch, total_samples, bitrate_sum, br_min != br_max


def _decode_mp3_meta(blob: bytes):
    """Container-level MP3 features from the REAL frame chain (no
    sample reconstruction): the 8-float vector mirrors the PCM
    features' last three slots (duration / rate / channels, identical
    semantics) and fills the waveform-statistic slots with frame-chain
    descriptors (mean bitrate, frame count, VBR flag) — deterministic,
    spec-derived, and enough for the corpus-curation uses of
    audio_features (duration/bitrate filters, codec census)."""
    n_frames, sr, ch, total_samples, br_sum, vbr = parse_mp3_frames(blob)
    mean_br = br_sum / n_frames
    return total_samples, [
        round(mean_br / 320.0, 6),  # mean bitrate vs Layer III max
        min(n_frames / 10000.0, 1.0),
        1.0 if vbr else 0.0,
        0.0,
        0.0,
        min(total_samples / sr, 1.0) if sr else 0.0,
        sr / 96000.0,
        float(ch),
    ]


def _decode_audio_impl(blob: bytes, fake: bool):
    """Audio decode with container sniffing: PCM WAV (RIFF/WAVE magic)
    and FLAC ('fLaC' magic — all four subframe types, Rice residuals,
    stereo decorrelation) decode NATIVELY (stdlib + numpy); MP3 frame
    chains parse natively down to the container level (frame walk,
    duration, bitrate, channel mode — parse_mp3_frames), with only
    SAMPLE reconstruction behind the fake/raise seam; unknown codecs
    fall to the deterministic fake or raise.

    Why Layer III samples stay behind the seam when FLAC/JPEG/GIF
    decode natively: every natively-decoded format here is either
    parametric (FLAC's Rice codes, GIF's LZW), carries its entropy
    tables IN the file (JPEG's DHT segments), or is covered by the
    stdlib (PNG's zlib). Layer III is the one format whose decode
    constants — 32 big-value Huffman code tables, scalefactor band
    partitions, and the 512-coefficient synthesis window — exist ONLY
    as quantized tables in ISO 11172-3 Annex B, with no closed form
    to derive them from and no codec in this container to validate a
    re-keyed copy against; an unvalidatable table transcription would
    be fabrication, not a decoder. The seam is this dispatch alone."""
    if blob[:4] == b"RIFF" and blob[8:12] == b"WAVE":
        try:
            return _decode_wav(blob)
        except Exception:
            pass  # magic collision — see _decode_image_impl
    if blob[:4] == b"fLaC":
        try:
            return _decode_flac(blob)
        except Exception:
            pass  # corrupt/reserved-feature stream falls through
    if blob[:3] == b"ID3" or (
        len(blob) > 4 and blob[0] == 0xFF and (blob[1] & 0xE0) == 0xE0
    ):
        try:
            return _decode_mp3_meta(blob)
        except Exception:
            pass  # not a real frame chain — fall through
    if not fake:
        raise NotImplementedError(
            "audio SAMPLE decode for lossy codecs requires an audio "
            "library not present in this environment; MP3 container "
            "metadata parses natively (parse_mp3_frames), PCM WAV and "
            "FLAC decode natively; pass fake=True for the "
            "deterministic stub on unknown codecs"
        )
    import hashlib

    n = len(blob)
    h = int(hashlib.md5(blob).hexdigest()[:8], 16) % 251
    feats = [((h * 31 + i * 17) % 128) / 128.0 for i in range(8)]
    return n, feats


def image_features(
    df: DataFrame, media_col: str = "media", id_col: str = "media_id", fake: bool = True
) -> DataFrame:
    """binary image column -> (width, height, feature vector)."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, ws, hs, fs = [], [], [], []
            for mid, blob in zip(pdf[id_col], pdf[media_col]):
                w, h, feats = _decode_image_impl(bytes(blob or b""), fake)
                ids.append(mid)
                ws.append(w)
                hs.append(h)
                fs.append(feats)
            yield pd.DataFrame(
                {"media_id": ids, "width": ws, "height": hs, "features": fs}
            )

    return df.select(id_col, media_col).mapInPandas(
        on_worker(run), schema=IMAGE_FEATURES_SCHEMA
    )


def audio_features(
    df: DataFrame, media_col: str = "media", id_col: str = "media_id", fake: bool = True
) -> DataFrame:
    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, ns, fs = [], [], []
            for mid, blob in zip(pdf[id_col], pdf[media_col]):
                n, feats = _decode_audio_impl(bytes(blob or b""), fake)
                ids.append(mid)
                ns.append(n)
                fs.append(feats)
            yield pd.DataFrame({"media_id": ids, "n_samples": ns, "features": fs})

    return df.select(id_col, media_col).mapInPandas(
        on_worker(run), schema=AUDIO_FEATURES_SCHEMA
    )


def _avi_frames(blob: bytes):
    """REAL video container parse: walk a RIFF AVI's chunk tree and
    yield (frame_idx, frame_bytes) for the stream-0 video data chunks
    ('00dc' compressed / '00db' uncompressed, in stream order, even-
    byte padding honored). For an MJPEG AVI each yielded frame is a
    complete JPEG — decodable by _decode_jpeg — so frame sampling +
    per-frame features run natively end-to-end. Pure stdlib struct."""
    import struct

    if blob[:4] != b"RIFF" or blob[8:12] != b"AVI ":
        raise ValueError("not a RIFF AVI container")

    def walk(start: int, end: int):
        pos = start
        while pos + 8 <= end:
            fourcc = blob[pos : pos + 4]
            (size,) = struct.unpack_from("<I", blob, pos + 4)
            data_start = pos + 8
            if fourcc in (b"LIST", b"RIFF"):
                yield from walk(data_start + 4, data_start + size)
            else:
                yield fourcc, data_start, size
            pos = data_start + size + (size & 1)  # chunks are even-aligned

    idx = 0
    for fourcc, start, size in walk(12, len(blob)):
        if fourcc in (b"00dc", b"00db"):
            yield idx, blob[start : start + size]
            idx += 1


def sample_frames(
    df: DataFrame,
    every_n_bytes: int = 64,
    media_col: str = "media",
    id_col: str = "media_id",
    every_k_frames: int = 1,
) -> DataFrame:
    """Video frame sampling: one input row -> k frame rows (the 1->N
    mapInPandas expansion used for frame extraction at scale).

    RIFF AVI blobs parse NATIVELY (_avi_frames): every
    ``every_k_frames``-th real video chunk becomes a row whose
    ``frame`` bytes are the actual encoded frame (for MJPEG, a
    complete JPEG — chain image_features(fake=False) for native
    per-frame features). Non-AVI blobs keep the byte-slicing stub
    (``every_n_bytes``) so opaque fixtures still exercise the
    expansion shape; a corrupt AVI falls back to the stub rather
    than failing the batch."""

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, blob in zip(pdf[id_col], pdf[media_col]):
                blob = bytes(blob or b"")
                real = None
                if blob[:4] == b"RIFF" and blob[8:12] == b"AVI ":
                    try:
                        real = [
                            (i, fb)
                            for i, fb in _avi_frames(blob)
                            if i % every_k_frames == 0
                        ]
                    except Exception:
                        real = None  # corrupt container -> stub path
                if real is not None:
                    for i, fb in real:
                        ids.append(mid)
                        idxs.append(i)
                        frames.append(fb)
                    continue
                for k, off in enumerate(range(0, len(blob), every_n_bytes)):
                    ids.append(mid)
                    idxs.append(k)
                    frames.append(blob[off : off + every_n_bytes])
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return df.select(id_col, media_col).mapInPandas(
        on_worker(run), schema=FRAME_SAMPLE_SCHEMA
    )


def parse_exif(data: bytes):
    """NATIVE EXIF metadata parse — the JPEG APP1 segment's embedded
    TIFF structure (TIFF 6.0 + EXIF 2.3 layout, both byte orders):
    walk the JPEG marker stream to APP1/"Exif\\0\\0", validate the
    TIFF header (II/MM + 42), read IFD0's 12-byte entries, resolve
    in-line vs offset-stored values (values <= 4 bytes are
    left-justified IN the value field regardless of byte order — the
    classic TIFF gotcha), and follow the EXIF sub-IFD pointer
    (0x8769). Returns

        (byte_order, n_ifd0_entries, make, model, orientation,
         datetime_str, n_exif_entries)

    or None when the blob is not a JPEG or carries no EXIF APP1
    (JFIF-only files). Pure bytes -> Python scalars: the per-blob
    worker for a mapInPandas batch, same contract as
    parse_mp3_frames."""
    import struct

    if len(data) < 4 or data[0:2] != b"\xff\xd8":
        return None
    pos = 2
    tiff = None
    while pos + 1 < len(data):
        if data[pos] != 0xFF:
            break
        # JPEG B.1.1.2: any marker may be preceded by extra 0xFF fill
        # bytes — the marker id is the first non-FF byte of the run
        while pos + 1 < len(data) and data[pos + 1] == 0xFF:
            pos += 1
        if pos + 4 > len(data):
            break
        marker = data[pos + 1]
        if marker in (0xD9, 0xDA):  # EOI / SOS: metadata ended
            break
        if 0xD0 <= marker <= 0xD7 or marker == 0x01:
            pos += 2  # standalone markers carry no length field
            continue
        seglen = int.from_bytes(data[pos + 2 : pos + 4], "big")
        if seglen < 2:
            break
        if (
            marker == 0xE1
            and data[pos + 4 : pos + 10] == b"Exif\x00\x00"
        ):
            tiff = data[pos + 10 : pos + 2 + seglen]
            break
        pos += 2 + seglen
    if tiff is None or len(tiff) < 8:
        return None
    bo = tiff[0:2]
    if bo == b"II":
        e = "<"
    elif bo == b"MM":
        e = ">"
    else:
        return None
    if struct.unpack(e + "H", tiff[2:4])[0] != 42:
        return None
    ifd0_off = struct.unpack(e + "I", tiff[4:8])[0]

    def read_ifd(off):
        if off + 2 > len(tiff):
            return 0, {}
        n = struct.unpack(e + "H", tiff[off : off + 2])[0]
        entries = {}
        for j in range(n):
            base = off + 2 + 12 * j
            if base + 12 > len(tiff):
                break
            tag, typ, cnt = struct.unpack(
                e + "HHI", tiff[base : base + 8]
            )
            entries[tag] = (typ, cnt, tiff[base + 8 : base + 12])
        return n, entries

    def ascii_val(ent):
        typ, cnt, raw = ent
        if typ != 2:
            return None
        if cnt <= 4:
            buf = raw[:cnt]
        else:
            off = struct.unpack(e + "I", raw)[0]
            buf = tiff[off : off + cnt]
        return buf.rstrip(b"\x00").decode("ascii", "replace")

    def int_val(ent):
        typ, _cnt, raw = ent
        if typ == 3:  # SHORT: left-justified in the value field
            return struct.unpack(e + "H", raw[:2])[0]
        if typ == 4:  # LONG
            return struct.unpack(e + "I", raw)[0]
        return None

    n0, ent = read_ifd(ifd0_off)
    make = ascii_val(ent[0x010F]) if 0x010F in ent else None
    model = ascii_val(ent[0x0110]) if 0x0110 in ent else None
    orientation = int_val(ent[0x0112]) if 0x0112 in ent else None
    dt = ascii_val(ent[0x0132]) if 0x0132 in ent else None
    n_exif = 0
    if 0x8769 in ent:
        sub = int_val(ent[0x8769])
        if sub is not None:
            n_exif = read_ifd(sub)[0]
    return (bo.decode("ascii"), n0, make, model, orientation, dt, n_exif)
