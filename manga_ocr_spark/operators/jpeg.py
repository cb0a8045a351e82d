"""JPEG (ITU-T T.81 / JFIF) luminance decoder — stdlib + numpy.

Scope: baseline sequential DCT (SOF0) AND progressive DCT (SOF2), 8-bit
samples, Huffman entropy coding, 1-4 components with arbitrary sampling
factors, restart markers. Progressive covers the full feature set:
spectral selection, successive approximation (DC and AC refinement
passes, EOB-run coding per T.81 G.1.2), interleaved multi-component DC
scans and single-component AC scans. In baseline, all components'
coefficients are entropy-decoded (the interleaved bitstream cannot be
skipped) but only the LUMA plane is dequantized, IDCT'd, and assembled —
the engine's image features are luma statistics, so chroma upsampling /
color conversion is deliberately out of scope. In progressive, scans
that carry ONLY chroma components are skipped wholesale without entropy
decoding (each scan is an independent entropy segment — byte stuffing
guarantees the next real marker is findable), which baseline cannot do.
Arithmetic coding and 12-bit precision raise ValueError and the caller
falls back to the stub tier.

This is the correctness tier of the multimodal kernel (public-spec
implementation, validated against an independent encoder round-trip, a
progressive-vs-baseline same-coefficients identity, and the real JPEG
files in the reference's test data); a production pipeline would ride
libjpeg-turbo through the identical Spark plumbing.
"""

from __future__ import annotations

import struct

import numpy as np

# header-declared-dimension cap of every image decoder (operators/
# multimodal.py imports it): the decode allocates plane/coefficient
# arrays sized by the SOF header, so a crafted header must be rejected
# before any buffer exists. 25 MP (~75 MB RGB) is far beyond crawled
# thumbnails; genuinely larger images degrade to the stub tier, which
# is the uniform oversize contract.
MAX_PIXELS = 25_000_000

# zigzag scan order: index i of the scan -> (row, col) flattened offset
_ZIGZAG = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ],
    dtype=np.int64,
)

# 8x8 DCT-II basis for the 2-D IDCT: spatial = C.T @ coeff @ C
_C = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _C[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16)


class _Huff:
    """Canonical Huffman table: (length, code) -> symbol, decoded bit-by-bit
    against per-length first-code/offset arrays (T.81 F.2.2.3)."""

    def __init__(self, bits: list[int], vals: bytes) -> None:
        self.maxcode = [-1] * 17
        self.mincode = [0] * 17
        self.valptr = [0] * 17
        code = 0
        k = 0
        for ln in range(1, 17):
            n = bits[ln - 1]
            if n:
                self.valptr[ln] = k
                self.mincode[ln] = code
                code += n
                k += n
                self.maxcode[ln] = code - 1
            code <<= 1
        self.vals = vals


class _BitReader:
    """Entropy-coded segment reader: 0xFF00 unstuffing, stops at markers."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.bitbuf = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> None:
        d = self.data
        while self.nbits <= 24:
            if self.marker is not None:
                self.bitbuf = (self.bitbuf << 8) & 0xFFFFFFFF
                self.nbits += 8
                continue
            b = d[self.pos]
            if b == 0xFF:
                nxt = d[self.pos + 1]
                if nxt == 0x00:
                    self.pos += 2
                else:
                    # any real marker ends the entropy segment (restart /
                    # EOI in baseline; also the next SOS/DHT of a
                    # progressive stream): pad with zero bits
                    self.marker = nxt
                    continue
            else:
                self.pos += 1
            self.bitbuf = ((self.bitbuf << 8) | b) & 0xFFFFFFFF
            self.nbits += 8

    def bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.bitbuf >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def align_restart(self) -> None:
        """Consume the pending RSTn marker and realign to byte boundary."""
        self.bitbuf = 0
        self.nbits = 0
        if self.marker is None:
            # marker not yet reached through bit reads: scan forward
            d = self.data
            while not (d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7):
                self.pos += 1
        else:
            self.marker = None
            d = self.data
            while not (d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7):
                self.pos += 1
        self.pos += 2


def _decode_huff(r: _BitReader, h: _Huff) -> int:
    code = r.bit()
    ln = 1
    while code > h.maxcode[ln]:
        code = (code << 1) | r.bit()
        ln += 1
        if ln > 16:
            raise ValueError("corrupt Huffman stream")
    return h.vals[h.valptr[ln] + code - h.mincode[ln]]


def _extend(v: int, t: int) -> int:
    # T.81 F.2.2.1 EXTEND: map magnitude bits to signed coefficient
    return v if t == 0 or v >= (1 << (t - 1)) else v - (1 << t) + 1


def _skip_entropy(data: bytes, pos: int) -> int:
    """Position of the first real marker at/after ``pos`` — byte stuffing
    guarantees every 0xFF inside entropy data is followed by 0x00 (or is a
    restart marker), so the first 0xFF + other byte IS the scan's end."""
    n = len(data)
    while pos + 1 < n:
        if data[pos] == 0xFF and data[pos + 1] != 0x00 and not (
            0xD0 <= data[pos + 1] <= 0xD7
        ):
            return pos
        pos += 1
    return n


def decode_jpeg_luma(data: bytes) -> tuple[int, int, np.ndarray]:
    """Decode baseline or progressive JPEG -> (width, height, Y uint8 [h, w])."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tables: dict[int, _Huff] = {}
    ac_tables: dict[int, _Huff] = {}
    restart_interval = 0
    frame = None  # (w, h, comps) comps: list of (cid, hi, vi, tq)
    progressive = False
    prog: _ProgState | None = None
    n = len(data)
    while pos < n:
        if data[pos] != 0xFF:
            pos += 1
            continue
        # T.81 B.1.1.2: any number of 0xFF fill bytes may precede a marker
        while pos + 1 < n and data[pos + 1] == 0xFF:
            pos += 1
        marker = data[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            if progressive and prog is not None:
                return prog.reconstruct()
            continue
        if marker in (0x01,) or 0xD0 <= marker <= 0xD8:
            continue
        (seglen,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + seglen]
        if marker in (0xC0, 0xC2):  # SOF0 baseline / SOF2 progressive
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise ValueError("only 8-bit precision supported")
            if w <= 0 or h <= 0 or w * h > MAX_PIXELS:
                # header-declared dims size the plane/coefficient
                # allocations below — reject crafted headers BEFORE any
                # buffer exists (same cap as operators/multimodal.py;
                # progressive EOB runs would let a few KB of scan data
                # commit every block of a declared-huge image)
                raise ValueError("JPEG dimensions out of bounds")
            comps = []
            for i in range(nc):
                cid, hv, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0xF, tq))
            frame = (w, h, comps)
            progressive = marker == 0xC2
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB):
            raise ValueError(f"unsupported SOF 0x{marker:02X}")
        elif marker == 0xC4:  # DHT
            p = 0
            while p < len(seg):
                tc, th = seg[p] >> 4, seg[p] & 0xF
                bits = list(seg[p + 1 : p + 17])
                nv = sum(bits)
                vals = seg[p + 17 : p + 17 + nv]
                (dc_tables if tc == 0 else ac_tables)[th] = _Huff(bits, vals)
                p += 17 + nv
        elif marker == 0xDB:  # DQT
            p = 0
            while p < len(seg):
                pq, tq = seg[p] >> 4, seg[p] & 0xF
                if pq == 0:
                    q = np.frombuffer(seg[p + 1 : p + 65], dtype=np.uint8).astype(np.int32)
                    p += 65
                else:
                    q = np.frombuffer(seg[p + 1 : p + 129], dtype=">u2").astype(np.int32)
                    p += 129
                qtables[tq] = q
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS -> entropy-coded data follows
            ns = seg[0]
            scan = []
            for i in range(ns):
                cs, tdta = seg[1 + 2 * i], seg[2 + 2 * i]
                scan.append((cs, tdta >> 4, tdta & 0xF))
            if not progressive:
                return _decode_scan(
                    data,
                    pos + seglen,
                    frame,
                    scan,
                    qtables,
                    dc_tables,
                    ac_tables,
                    restart_interval,
                )
            ss, se, ahal = seg[1 + 2 * ns], seg[2 + 2 * ns], seg[3 + 2 * ns]
            if prog is None:
                prog = _ProgState(frame, qtables)
            scan_start = pos + seglen
            prog.decode_scan(
                data,
                scan_start,
                scan,
                ss,
                se,
                ahal >> 4,
                ahal & 0xF,
                dc_tables,
                ac_tables,
                restart_interval,
            )
            pos = _skip_entropy(data, scan_start)
            continue
        pos += seglen
    raise ValueError("truncated JPEG (no EOI after scans)" if progressive else "no SOS marker found")


def _decode_scan(
    data: bytes,
    pos: int,
    frame,
    scan,
    qtables,
    dc_tables,
    ac_tables,
    restart_interval: int,
) -> tuple[int, int, np.ndarray]:
    if frame is None:
        raise ValueError("SOS before SOF")
    w, h, comps = frame
    by_id = {cid: (hi, vi, tq) for cid, hi, vi, tq in comps}
    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    luma_id = scan[0][0] if len(scan) == 1 else comps[0][0]
    lh, lv, ltq = by_id[luma_id]
    if lh != hmax or lv != vmax:
        raise ValueError("luma is not the max-resolution component")
    lq = qtables[ltq]

    r = _BitReader(data, pos)
    dc_pred = {cid: 0 for cid, _, _ in scan}
    plane_w = -(-w // (8 * hmax)) * 8 * hmax
    plane_h = -(-h // (8 * vmax)) * 8 * vmax
    yplane = np.zeros((plane_h, plane_w), dtype=np.float64)

    def decode_block(cid: int, td: int, ta: int, keep: bool):
        s = _decode_huff(r, dc_tables[td])
        diff = _extend(r.bits(s), s) if s else 0
        dc_pred[cid] += diff
        coeffs = np.zeros(64, dtype=np.int64) if keep else None
        if keep:
            coeffs[0] = dc_pred[cid]
        k = 1
        ac = ac_tables[ta]
        while k < 64:
            rs = _decode_huff(r, ac)
            rr, ss = rs >> 4, rs & 0xF
            if ss == 0:
                if rr == 15:
                    k += 16
                    continue
                break  # EOB
            k += rr
            if k > 63:
                raise ValueError("AC run past block end")
            v = _extend(r.bits(ss), ss)
            if keep:
                coeffs[k] = v
            k += 1
        return coeffs

    def check_not_ended() -> None:
        # A NEW MCU is about to start, but the entropy segment already ran
        # into a non-restart marker: the scan ended early (corrupt data).
        # Raising here degrades the row to the deterministic stub tier
        # instead of silently decoding zero-bit padding into plausible
        # garbage. (The final MCU legitimately consuming a few padding
        # bits via the reader's lookahead is NOT this case — no further
        # MCU starts after it.) Restart markers are handled by
        # align_restart before this check runs.
        if r.marker is not None:
            raise ValueError("baseline entropy segment ended before the last MCU")

    if len(scan) == 1:
        # non-interleaved: MCU = one block of the single component
        cid, td, ta = scan[0]
        bw, bh = -(-w // 8), -(-h // 8)
        mcu_count = 0
        for by in range(bh):
            for bx in range(bw):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    r.align_restart()
                    dc_pred[cid] = 0
                check_not_ended()
                coeffs = decode_block(cid, td, ta, keep=(cid == luma_id))
                if coeffs is not None:
                    blk = np.zeros(64, dtype=np.float64)
                    blk[_ZIGZAG] = coeffs * lq
                    sp = _C.T @ blk.reshape(8, 8) @ _C + 128.0
                    yplane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = sp
                mcu_count += 1
    else:
        mcus_x = -(-w // (8 * hmax))
        mcus_y = -(-h // (8 * vmax))
        mcu_count = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                    r.align_restart()
                    for cid in dc_pred:
                        dc_pred[cid] = 0
                check_not_ended()
                for cid, td, ta in scan:
                    hi, vi, _tq = by_id[cid]
                    for v in range(vi):
                        for hh in range(hi):
                            coeffs = decode_block(cid, td, ta, keep=(cid == luma_id))
                            if coeffs is not None:
                                blk = np.zeros(64, dtype=np.float64)
                                blk[_ZIGZAG] = coeffs * lq
                                sp = _C.T @ blk.reshape(8, 8) @ _C + 128.0
                                y0 = (my * vmax + v) * 8
                                x0 = (mx * hmax + hh) * 8
                                yplane[y0 : y0 + 8, x0 : x0 + 8] = sp
                mcu_count += 1

    y = np.clip(np.rint(yplane[:h, :w]), 0, 255).astype(np.uint8)
    return int(w), int(h), y


class _ProgState:
    """Progressive (SOF2) decode state: the luma coefficient accumulator
    plus the per-scan decoders for T.81 G.1.2 — DC first/refinement
    (successive approximation of coefficient 0), AC first (spectral
    selection + EOB-run coding), AC refinement (correction bits). Only
    luma coefficients are stored; chroma appears here only in interleaved
    DC scans, where its bits must still be consumed to stay in sync.
    Coefficients are kept in ZIGZAG order (index = scan position) and
    scattered to natural order at reconstruction, like the baseline path.
    """

    def __init__(self, frame, qtables) -> None:
        if frame is None:
            raise ValueError("SOS before SOF")
        w, h, comps = frame
        self.w, self.h, self.comps = w, h, comps
        self.hmax = max(c[1] for c in comps)
        self.vmax = max(c[2] for c in comps)
        cid, hi, vi, tq = comps[0]
        if hi != self.hmax or vi != self.vmax:
            raise ValueError("luma is not the max-resolution component")
        self.luma_id = cid
        self.ltq = tq
        self.qtables = qtables
        self.mcus_x = -(-w // (8 * self.hmax))
        self.mcus_y = -(-h // (8 * self.vmax))
        # padded grid: interleaved DC scans cover full MCUs; the
        # non-interleaved AC scans cover only ceil(w/8) x ceil(h/8) and
        # leave the padding blocks DC-only (cropped away at the end)
        self.nbx = self.mcus_x * self.hmax
        self.nby = self.mcus_y * self.vmax
        self.coef = np.zeros((self.nby, self.nbx, 64), dtype=np.int64)

    def decode_scan(
        self, data, pos, scan, ss, se, ah, al, dc_tables, ac_tables, restart_interval
    ) -> None:
        # T.81 G.1: DC scans are exactly the (0,0) band; AC bands live in
        # [1,63]. A baseline-shaped (0,63) header under SOF2 is corrupt.
        if ss == 0 and se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        if ss > 0 and not (ss <= se <= 63):
            raise ValueError("bad progressive spectral band")
        if all(cid != self.luma_id for cid, _, _ in scan):
            return  # chroma-only scan: entropy data skipped by the caller
        r = _BitReader(data, pos)
        if ss == 0:
            self._dc_scan(r, scan, ah, al, dc_tables, restart_interval)
        else:
            if len(scan) != 1:
                raise ValueError("progressive AC scan must be single-component")
            _cid, _td, ta = scan[0]
            if ah == 0:
                self._ac_first(r, ac_tables[ta], ss, se, al, restart_interval)
            else:
                self._ac_refine(r, ac_tables[ta], ss, se, al, restart_interval)

    def _dc_scan(self, r, scan, ah, al, dc_tables, ri) -> None:
        by_id = {cid: (hi, vi) for cid, hi, vi, _tq in self.comps}
        pred = {cid: 0 for cid, _, _ in scan}

        def block(cid: int, td: int, keep_pos) -> None:
            if ah == 0:  # first pass: Huffman DC diff, point-transformed
                s = _decode_huff(r, dc_tables[td])
                diff = _extend(r.bits(s), s) if s else 0
                pred[cid] += diff
                if keep_pos is not None:
                    self.coef[keep_pos[0], keep_pos[1], 0] = pred[cid] << al
            else:  # refinement: one raw bit per block, OR into position Al
                bit = r.bit()
                if bit and keep_pos is not None:
                    self.coef[keep_pos[0], keep_pos[1], 0] |= 1 << al

        mcu = 0
        if len(scan) == 1:
            # non-interleaved single-component scan — only luma reaches
            # here, whose grid is the unpadded ceil(w/8) x ceil(h/8)
            cid, td, _ta = scan[0]
            bw, bh = -(-self.w // 8), -(-self.h // 8)
            for by in range(bh):
                for bx in range(bw):
                    if ri and mcu and mcu % ri == 0:
                        r.align_restart()
                        for c in pred:
                            pred[c] = 0
                    block(cid, td, (by, bx))
                    mcu += 1
        else:
            for my in range(self.mcus_y):
                for mx in range(self.mcus_x):
                    if ri and mcu and mcu % ri == 0:
                        r.align_restart()
                        for c in pred:
                            pred[c] = 0
                    for cid, td, _ta in scan:
                        hi, vi = by_id[cid]
                        for v in range(vi):
                            for hh in range(hi):
                                keep = (
                                    (my * self.vmax + v, mx * self.hmax + hh)
                                    if cid == self.luma_id
                                    else None
                                )
                                block(cid, td, keep)
                    mcu += 1

    def _ac_first(self, r, ac, ss, se, al, ri) -> None:
        # G.1.2.2: spectral band [ss..se], values point-transformed by Al,
        # runs of all-zero bands coded as EOBRUN
        bw, bh = -(-self.w // 8), -(-self.h // 8)
        eobrun = 0
        mcu = 0
        for by in range(bh):
            for bx in range(bw):
                if ri and mcu and mcu % ri == 0:
                    r.align_restart()
                    eobrun = 0
                mcu += 1
                if eobrun:
                    eobrun -= 1
                    continue
                cf = self.coef[by, bx]
                k = ss
                while k <= se:
                    rs = _decode_huff(r, ac)
                    rr, s = rs >> 4, rs & 0xF
                    if s == 0:
                        if rr != 15:
                            eobrun = (1 << rr) - 1
                            if rr:
                                eobrun += r.bits(rr)
                            break
                        k += 16  # ZRL
                    else:
                        k += rr
                        if k > se:
                            raise ValueError("AC run past band end")
                        cf[k] = _extend(r.bits(s), s) << al
                        k += 1

    def _ac_refine(self, r, ac, ss, se, al, ri) -> None:
        # G.1.2.3: one correction bit per already-nonzero coefficient,
        # newly-nonzero coefficients appear as +-(1<<Al); EOBRUN covers
        # blocks whose remaining band has corrections only
        p1 = 1 << al
        bw, bh = -(-self.w // 8), -(-self.h // 8)
        eobrun = 0
        mcu = 0
        for by in range(bh):
            for bx in range(bw):
                if ri and mcu and mcu % ri == 0:
                    r.align_restart()
                    eobrun = 0
                mcu += 1
                cf = self.coef[by, bx]
                k = ss
                if eobrun == 0:
                    while k <= se:
                        rs = _decode_huff(r, ac)
                        rr, s = rs >> 4, rs & 0xF
                        newval = 0
                        if s == 0:
                            if rr != 15:
                                eobrun = 1 << rr
                                if rr:
                                    eobrun += r.bits(rr)
                                break
                            # rr == 15: skip 16 zero-history coefficients
                        else:
                            if s != 1:
                                raise ValueError("refinement magnitude must be 1")
                            newval = p1 if r.bit() else -p1
                        while k <= se:
                            c = int(cf[k])
                            if c != 0:
                                if r.bit() and (c & p1) == 0:
                                    cf[k] = c + (p1 if c > 0 else -p1)
                            else:
                                if rr == 0:
                                    break
                                rr -= 1
                            k += 1
                        if newval and k <= se:
                            cf[k] = newval
                        k += 1
                if eobrun > 0:
                    while k <= se:
                        c = int(cf[k])
                        if c != 0:
                            if r.bit() and (c & p1) == 0:
                                cf[k] = c + (p1 if c > 0 else -p1)
                        k += 1
                    eobrun -= 1

    def reconstruct(self) -> tuple[int, int, np.ndarray]:
        lq = self.qtables[self.ltq]
        deq = np.zeros((self.nby, self.nbx, 64), dtype=np.float64)
        deq[:, :, _ZIGZAG] = self.coef * lq
        blocks = deq.reshape(self.nby, self.nbx, 8, 8)
        sp = np.einsum("ux,abuv,vy->abxy", _C, blocks, _C) + 128.0
        plane = sp.transpose(0, 2, 1, 3).reshape(self.nby * 8, self.nbx * 8)
        y = np.clip(np.rint(plane[: self.h, : self.w]), 0, 255).astype(np.uint8)
        return int(self.w), int(self.h), y
