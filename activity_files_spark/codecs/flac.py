"""Pure-python FLAC codec (RFC 9639 / xiph spec — fully public format).

The third REAL codec next to RIFF/WAVE and YUV4MPEG2 (operators/
multimodal.py): no external bindings, just the bitstream. The decoder
covers what the overwhelming majority of real FLAC files use — constant /
verbatim / fixed-predictor (orders 0-4) / LPC subframes, 4- and 5-bit rice
residual coding with escape partitions, wasted bits, and all four channel
assignments (independent, left/side, right/side, mid/side). The encoder
emits constant, verbatim, fixed-predictor and LPC subframes with rice coding
(partition order 0) in independent, left/side, or mid/side stereo — enough
to exercise every decoder path through lossless round-trips. It writes
every header and subframe through the shared collecting bit writer
(:class:`codecs.bits.BitWriter`), packed once per frame; a subframe's whole
rice-coded residual run is one array of fields, not a per-sample loop.

Reference parity note: the reference repo (activity_files) has NO audio
codecs at all; this file exists for the multimodal-pipeline axis of the
north star, mirroring the WAV/Y4M pattern at multimodal.py:42-230.

Scope boundaries (raise, never mis-decode): sample rates/bit depths are
taken from STREAMINFO (4-32 bit supported); variable-blocksize streams and
>2^36 sample counts decode by spec; SEEKTABLE/VORBIS_COMMENT/PICTURE/etc.
metadata blocks are skipped structurally.
"""

from __future__ import annotations

import struct

import numpy as np

from activity_files_spark.codecs.bits import BitWriter
from activity_files_spark.codecs.crc import flac_crc8, flac_crc16

_FIXED_COEFS = {
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


# ---------------------------------------------------------------------------
# Bit reader
# ---------------------------------------------------------------------------


class _BitReader:
    __slots__ = ("d", "p", "_bits", "_ones")

    def __init__(self, data: bytes, pos_bits: int = 0):
        self.d = data
        self.p = pos_bits
        self._bits = None  # lazily unpacked bit array (rice fast path)
        self._ones = None  # positions of 1-bits, sorted

    def read(self, n: int) -> int:
        v = 0
        d, p = self.d, self.p
        while n:
            byte = d[p >> 3]
            avail = 8 - (p & 7)
            take = avail if avail < n else n
            v = (v << take) | ((byte >> (avail - take)) & ((1 << take) - 1))
            p += take
            n -= take
        self.p = p
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - (1 << n) if v >> (n - 1) else v

    def unary(self) -> int:
        # count 0-bits up to the terminating 1 (rice quotient)
        d = self.d
        p = self.p
        q = 0
        while True:
            byte = d[p >> 3]
            avail = 8 - (p & 7)
            chunk = byte & ((1 << avail) - 1)
            if chunk == 0:
                q += avail
                p += avail
                continue
            lead = avail - chunk.bit_length()
            q += lead
            p += lead + 1
            self.p = p
            return q

    def align(self) -> None:
        self.p = (self.p + 7) & ~7

    def rice_run(self, count: int, param: int) -> np.ndarray:
        """Decode ``count`` rice codes with constant ``param`` as one
        vectorized pass: the unary terminators form a chain over the
        precomputed sorted 1-bit positions (t_{k+1} = first 1-bit at or
        after t_k + 1 + param), after which quotients and all remainder
        bits gather with numpy. Returns unzigzagged int64 residuals and
        advances the cursor. Raises IndexError past the buffer (the caller
        normalizes to ValueError)."""
        if count == 0:
            return np.zeros(0, dtype=np.int64)
        if self._ones is None:
            bits = np.unpackbits(np.frombuffer(self.d, np.uint8))
            self._bits = bits
            # a plain python list makes the sequential chain walk ~30x
            # cheaper than per-sample numpy indexing/searchsorted
            self._ones = bits.nonzero()[0].tolist()
        ones, bits = self._ones, self._bits
        from bisect import bisect_left

        p = self.p
        ts = [0] * count
        prev_ends = [0] * count
        idx = bisect_left(ones, p)
        prev_end = p
        step = 1 + param
        n_ones = len(ones)
        for k in range(count):
            if idx >= n_ones:
                raise IndexError("rice run past end of buffer")
            t = ones[idx]  # terminator: first 1-bit at/after prev_end
            ts[k] = t
            prev_ends[k] = prev_end
            prev_end = t + step
            idx += 1
            while idx < n_ones and ones[idx] < prev_end:
                idx += 1  # skip 1-bits consumed by the remainder window
        if prev_end > len(bits):
            raise IndexError("rice run past end of buffer")
        self.p = prev_end
        t_arr = np.asarray(ts, dtype=np.int64)
        u = (t_arr - np.asarray(prev_ends, dtype=np.int64)) << param
        if param:
            cols = t_arr[:, None] + 1 + np.arange(param, dtype=np.int64)[None, :]
            weights = 1 << np.arange(param - 1, -1, -1, dtype=np.int64)
            u = u | (bits[cols].astype(np.int64) @ weights)
        return np.where(u & 1 == 0, u >> 1, -((u + 1) >> 1))


# ---------------------------------------------------------------------------
# Rice coding
# ---------------------------------------------------------------------------


def _zigzag(res: np.ndarray) -> np.ndarray:
    # FLAC residuals: v >= 0 -> 2v, v < 0 -> -2v - 1
    r = res.astype(object) if res.dtype == object else res.astype(np.int64)
    return np.where(r >= 0, r << 1, (-r << 1) - 1)


def _rice_size(res: np.ndarray, max_param: int = 14) -> tuple[int, int]:
    """(bits, param) of the cheapest partition-order-0 rice code of the
    residuals ``res``, sized without zigzagging them: the zigzag of v is
    2|v| - (v < 0), so the codes sum to 2*sum|v| - #negatives."""
    total = 2 * int(np.abs(res).sum()) - int((res < 0).sum())
    n = max(1, len(res))
    return min((n * (p + 1) + (total >> p), p) for p in range(max_param + 1))


# ---------------------------------------------------------------------------
# Decoder
# ---------------------------------------------------------------------------


def _read_utf8_code(r: _BitReader) -> int:
    """FLAC's extended UTF-8 coded frame/sample number (up to 36 bits)."""
    b0 = r.read(8)
    if b0 < 0x80:
        return b0
    n = 0
    mask = 0x80
    while b0 & mask:
        n += 1
        mask >>= 1
    val = b0 & (mask - 1)
    for _ in range(n - 1):
        val = (val << 6) | (r.read(8) & 0x3F)
    return val


def _decode_residual(r: _BitReader, n: int, order: int) -> list[int]:
    method = r.read(2)
    if method > 1:
        raise ValueError(f"reserved residual method {method}")
    plen = 4 if method == 0 else 5
    esc = (1 << plen) - 1
    po = r.read(4)
    nparts = 1 << po
    if n % nparts:
        raise ValueError("partition count does not divide block size")
    if (n >> po) < order:
        # first partition holds (n >> po) - order residuals; negative is a
        # malformed stream (zero is legal: an empty first partition)
        raise ValueError(
            f"partition size {n >> po} cannot hold predictor order {order}"
        )
    out: list[int] = []
    for part in range(nparts):
        cnt = (n >> po) - (order if part == 0 else 0)
        param = r.read(plen)
        if param == esc:
            raw = r.read(5)
            if raw == 0:
                out.extend([0] * cnt)
            else:
                out.extend(r.read_signed(raw) for _ in range(cnt))
        else:
            # .tolist() -> plain python ints, so downstream sequential
            # loops (LPC) don't pay numpy-scalar conversion per sample
            out.extend(r.rice_run(cnt, param).tolist())
    return out


def _decode_subframe(r: _BitReader, n: int, bps: int) -> np.ndarray:
    if r.read(1):
        raise ValueError("subframe padding bit set")
    ftype = r.read(6)
    wasted = 0
    if r.read(1):
        wasted = 1 + r.unary()
        bps -= wasted
    if ftype == 0:  # constant
        v = r.read_signed(bps)
        out = np.full(n, v, dtype=np.int64)
    elif ftype == 1:  # verbatim
        out = np.fromiter((r.read_signed(bps) for _ in range(n)),
                          dtype=np.int64, count=n)
    elif 8 <= ftype <= 12:  # fixed predictor, order 0-4
        order = ftype - 8
        warm = [r.read_signed(bps) for _ in range(order)]
        res = _decode_residual(r, n, order)
        # the order-k fixed predictor's residual is the k-th finite
        # difference, so reconstruction is k seeded cumulative sums —
        # fully vectorized instead of a per-sample loop
        out = np.empty(n, dtype=np.int64)
        out[:order] = warm
        seq = np.asarray(res, dtype=np.int64)
        seeds = np.asarray(warm, dtype=np.int64)
        for k in range(order, 0, -1):
            # k-1-th difference of the warmup tail seeds this integration
            d = np.diff(seeds, k - 1)
            seq = np.concatenate(([d[-1]], seq)).cumsum()[1:]
        out[order:] = seq
    elif ftype >= 32:  # LPC, order = ftype - 31
        order = ftype - 31
        warm = [r.read_signed(bps) for _ in range(order)]
        prec = r.read(4) + 1
        if prec == 16:
            raise ValueError("invalid LPC precision escape")
        shift = r.read_signed(5)
        if shift < 0:
            raise ValueError("negative LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        res = _decode_residual(r, n, order)
        # integer IIR is inherently sequential; plain python lists beat
        # numpy scalar indexing ~3x in this loop
        o = [0] * n
        o[:order] = [int(v) for v in warm]
        co = [int(c) for c in coefs]
        rng = range(order)
        for i in range(order, n):
            acc = 0
            for j in rng:
                acc += co[j] * o[i - 1 - j]
            o[i] = res[i - order] + (acc >> shift)
        out = np.asarray(o, dtype=np.int64)
    else:
        raise ValueError(f"reserved subframe type {ftype}")
    if wasted:
        out = out << wasted
    return out


_BLOCKSIZE_TABLE = {
    1: 192, 2: 576, 3: 1152, 4: 2304, 5: 4608,
    8: 256, 9: 512, 10: 1024, 11: 2048, 12: 4096,
    13: 8192, 14: 16384, 15: 32768,
}
_SAMPLE_SIZE_TABLE = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def parse_flac(data: bytes) -> tuple[np.ndarray, int, int]:
    """Decode a FLAC stream -> (int32 samples (n, channels), sample_rate,
    bits_per_sample). Lossless: bit-exact PCM."""
    if data[:4] != b"fLaC":
        raise ValueError("not a FLAC stream (missing fLaC magic)")
    pos = 4
    sr = channels = bps = None
    total = 0
    # metadata blocks
    while True:
        if pos + 4 > len(data):
            raise ValueError("truncated FLAC metadata")
        hdr = data[pos]
        last = hdr & 0x80
        btype = hdr & 0x7F
        blen = int.from_bytes(data[pos + 1 : pos + 4], "big")
        body = data[pos + 4 : pos + 4 + blen]
        if btype == 0:  # STREAMINFO
            r = _BitReader(body)
            r.read(16)  # min blocksize
            r.read(16)  # max blocksize
            r.read(24)  # min frame size
            r.read(24)  # max frame size
            sr = r.read(20)
            channels = r.read(3) + 1
            bps = r.read(5) + 1
            total = r.read(36)
        pos += 4 + blen
        if last:
            break
    if sr is None:
        raise ValueError("FLAC stream missing STREAMINFO")

    chans: list[list[np.ndarray]] = [[] for _ in range(channels)]
    ns_done = 0
    try:
        ns_done = _parse_frames(data, pos, channels, bps, total, chans)
    except (IndexError, struct.error) as exc:
        # normalize out-of-buffer reads on truncated/malformed streams to
        # the module's documented exception type
        raise ValueError(f"truncated or malformed FLAC stream: {exc}") from exc
    if total and ns_done < total:
        # raise-never-misdecode contract: a stream cut at a frame boundary
        # must not silently return a shorter clip than STREAMINFO promises
        raise ValueError(
            f"truncated FLAC stream: {ns_done} of {total} samples decoded"
        )
    out = np.stack(
        [np.concatenate(c) if c else np.zeros(0, dtype=np.int64) for c in chans],
        axis=1,
    )
    if total:
        out = out[:total]
    return out.astype(np.int32), int(sr), int(bps)


def _parse_frames(data, pos, channels, bps, total, chans) -> int:
    """Frame-walk loop of :func:`parse_flac`; appends per-channel blocks to
    ``chans`` and returns the decoded sample count."""
    ns_done = 0
    bit_cache = [None, None]  # (bits, ones) shared across frames: the rice
    # fast path unpacks the payload once, not O(frames) times
    while pos + 2 <= len(data) and (total == 0 or ns_done < total):
        r = _BitReader(data, pos * 8)
        r._bits, r._ones = bit_cache
        sync = r.read(14)
        if sync != 0b11111111111110:
            raise ValueError(f"bad frame sync at byte {pos}")
        r.read(1)  # reserved
        r.read(1)  # blocking strategy
        bs_code = r.read(4)
        sr_code = r.read(4)
        chan_code = r.read(4)
        ss_code = r.read(3)
        r.read(1)  # reserved
        _read_utf8_code(r)
        if bs_code == 0:
            raise ValueError("reserved block size code 0")
        elif bs_code == 6:
            n = r.read(8) + 1
        elif bs_code == 7:
            n = r.read(16) + 1
        else:
            n = _BLOCKSIZE_TABLE[bs_code]
        if sr_code == 12:
            r.read(8)
        elif sr_code in (13, 14):
            r.read(16)
        if ss_code == 0:
            frame_bps = bps
        elif ss_code in _SAMPLE_SIZE_TABLE:
            frame_bps = _SAMPLE_SIZE_TABLE[ss_code]
        else:
            raise ValueError(f"reserved sample size code {ss_code}")
        hdr_end = (r.p + 7) // 8
        stored_crc8 = data[hdr_end]
        if flac_crc8(data[pos:hdr_end]) != stored_crc8:
            raise ValueError(f"frame header CRC-8 mismatch at byte {pos}")
        r.p = (hdr_end + 1) * 8

        if chan_code < 8:
            nch = chan_code + 1
            if nch != channels:
                raise ValueError("frame channel count differs from STREAMINFO")
            subs = [_decode_subframe(r, n, frame_bps) for _ in range(nch)]
        elif chan_code in (8, 9, 10):
            if channels != 2:
                raise ValueError("stereo decorrelation in non-stereo stream")
            if chan_code == 8:  # left/side
                left = _decode_subframe(r, n, frame_bps)
                side = _decode_subframe(r, n, frame_bps + 1)
                subs = [left, left - side]
            elif chan_code == 9:  # right/side
                side = _decode_subframe(r, n, frame_bps + 1)
                right = _decode_subframe(r, n, frame_bps)
                subs = [right + side, right]
            else:  # mid/side
                mid = _decode_subframe(r, n, frame_bps)
                side = _decode_subframe(r, n, frame_bps + 1)
                mid2 = (mid << 1) | (side & 1)
                subs = [(mid2 + side) >> 1, (mid2 - side) >> 1]
        else:
            raise ValueError(f"reserved channel assignment {chan_code}")

        r.align()
        frame_end = r.p // 8
        stored16 = struct.unpack_from(">H", data, frame_end)[0]
        if flac_crc16(data[pos:frame_end]) != stored16:
            raise ValueError(f"frame CRC-16 mismatch at byte {pos}")
        pos = frame_end + 2
        bit_cache[0], bit_cache[1] = r._bits, r._ones
        for c in range(channels):
            chans[c].append(subs[c])
        ns_done += n
    return ns_done


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


_LPC_PRECISION = 12  # quantized coefficient width (precision-1 stored)


def _lpc_candidates(x: np.ndarray, bps: int, orders=(2, 4, 8)):
    """LPC analysis for one block: autocorrelation -> Levinson-Durbin ->
    quantized integer coefficients at each candidate order, with the exact
    integer residuals the decoder will reconstruct from. Yields
    (bits_estimate, order, res, param, qcoefs, shift) tuples."""
    n = len(x)
    max_order = max(orders)
    if n <= 2 * max_order:
        return
    xf = x.astype(np.float64)
    r = np.array([float(np.dot(xf[: n - k], xf[k:])) for k in range(max_order + 1)])
    if r[0] <= 0.0:
        return
    err = r[0]
    a = np.zeros(max_order)
    per_order: dict[int, np.ndarray] = {}
    for m in range(1, max_order + 1):
        acc = r[m] - (np.dot(a[: m - 1], r[m - 1:0:-1]) if m > 1 else 0.0)
        if err <= 0.0:
            break
        k = acc / err
        a_new = a.copy()
        a_new[m - 1] = k
        if m > 1:
            a_new[: m - 1] = a[: m - 1] - k * a[m - 2::-1]
        a = a_new
        err *= max(0.0, 1.0 - k * k)
        if m in orders:
            per_order[m] = a[:m].copy()
    half = 1 << (_LPC_PRECISION - 1)
    for order, coefs in per_order.items():
        cmax = float(np.max(np.abs(coefs)))
        if not np.isfinite(cmax) or cmax == 0.0:
            continue
        shift = 14
        while shift > 0 and cmax * (1 << shift) >= half:
            shift -= 1
        q = np.clip(
            np.round(coefs * (1 << shift)).astype(np.int64), -half, half - 1
        )
        if not q.any():
            continue
        pred = np.zeros(n - order, dtype=np.int64)
        for j in range(order):
            pred += q[j] * x[order - 1 - j : n - 1 - j]
        res = x[order:] - (pred >> shift)
        bits, param = _rice_size(res)
        yield (order * bps + 4 + 5 + order * _LPC_PRECISION + bits, order, res, param, q, shift)


def _encode_subframe(w: BitWriter, x: np.ndarray, bps: int) -> None:
    """Best-of constant / fixed(0-4)+rice / LPC(2,4,8)+rice / verbatim for
    one channel block — the emission set now covers every decoder subframe
    family except wasted-bits packing."""
    n = len(x)
    x = x.astype(np.int64)
    if n and np.all(x == x[0]):
        w.write(0, 1)
        w.write(0, 6)  # constant
        w.write(0, 1)
        w.write(int(x[0]), bps)
        return
    # pick the predictor whose rice-coded size estimate is smallest; only
    # the winner's residuals are zigzagged, for the write
    best = None  # (bits_estimate, kind, order, res, param[, qcoefs, shift])
    for order, coefs in _FIXED_COEFS.items():
        if n <= order:
            continue
        res = x[order:].copy()
        for j, c in enumerate(coefs):
            res = res - c * x[order - 1 - j : n - 1 - j]
        bits, param = _rice_size(res)
        bits += order * bps
        if best is None or bits < best[0]:
            best = (bits, "fixed", order, res, param)
    for bits, order, res, param, q, shift in _lpc_candidates(x, bps):
        if best is None or bits < best[0]:
            best = (bits, "lpc", order, res, param, q, shift)
    verbatim_bits = n * bps
    if best is None or best[0] >= verbatim_bits:
        w.write(0, 1)
        w.write(1, 6)  # verbatim
        w.write(0, 1)
        w.write_array(x, bps)
        return
    kind, order, z, param = best[1], best[2], _zigzag(best[3]), best[4]
    w.write(0, 1)
    if kind == "fixed":
        w.write(8 + order, 6)
    else:
        w.write(32 + order - 1, 6)  # LPC, order
    w.write(0, 1)  # no wasted bits
    w.write_array(x[:order], bps)
    if kind == "lpc":
        q, shift = best[5], best[6]
        w.write(_LPC_PRECISION - 1, 4)
        w.write(shift, 5)
        w.write_array(q, _LPC_PRECISION)
    w.write(0, 2)   # residual method: 4-bit rice
    w.write(0, 4)   # partition order 0
    w.write(param, 4)  # _rice_size caps at 14 (15 is the escape)
    # one field per residual: q zeros, the unary stop bit, the param low bits
    w.write_array((1 << param) | (z & ((1 << param) - 1)), (z >> param) + 1 + param)


def _write_utf8_code(out: bytearray, val: int) -> None:
    if val < 0x80:
        out.append(val)
        return
    nbytes = 2
    while val >= (1 << (6 * (nbytes - 1) + (7 - nbytes))):
        nbytes += 1
    out.append((0xFF00 >> nbytes) & 0xFF | (val >> (6 * (nbytes - 1))))
    for i in range(nbytes - 2, -1, -1):
        out.append(0x80 | ((val >> (6 * i)) & 0x3F))


def encode_flac(
    samples: np.ndarray,
    sample_rate: int,
    block_size: int = 4096,
    stereo_mode: str = "auto",
) -> bytes:
    """Encode int16 PCM (n, channels) to a real FLAC stream.

    ``stereo_mode``: 'independent', 'left_side', 'mid_side', or 'auto'
    (per-block smallest of the three for 2-channel input). Lossless:
    parse_flac(encode_flac(x)) == x bit-exactly.
    """
    if samples.dtype != np.int16:
        raise ValueError("encode_flac wants int16 samples")
    out = bytearray(b"fLaC")
    out += streaminfo_block(samples, sample_rate, block_size, last=True)
    for frame, _ns in encode_frames(samples, block_size, stereo_mode):
        out += frame
    return bytes(out)


def streaminfo_block(
    samples: np.ndarray, sample_rate: int, block_size: int, last: bool
) -> bytes:
    """Complete STREAMINFO metadata block (1-byte header + 3-byte length +
    body) for int16 PCM ``(n, channels)``. ``last`` sets the
    last-metadata-block flag — cleared when more blocks follow (the Ogg
    mapping appends a VORBIS_COMMENT header packet)."""
    n, ch = samples.shape
    # STREAMINFO (md5 of the little-endian PCM byte stream, per spec)
    import hashlib

    md5 = hashlib.md5(samples.astype("<i2").tobytes()).digest()
    si = BitWriter()
    si.write(block_size, 16)
    si.write(block_size, 16)
    si.write(0, 24)
    si.write(0, 24)
    si.write(sample_rate, 20)
    si.write(ch - 1, 3)
    si.write(16 - 1, 5)
    si.write(n, 36)
    si.align()
    body = si.bytes() + md5
    out = bytearray()
    out.append((0x80 if last else 0x00) | 0x00)  # STREAMINFO
    out += len(body).to_bytes(3, "big")
    out += body
    return bytes(out)


def encode_frames(samples: np.ndarray, block_size: int, stereo_mode: str):
    """Yield ``(frame_bytes, n_samples)`` — each a complete FLAC frame
    (header + subframes + CRC-16) for one block of int16 PCM. Shared by the
    native encoder above and the Ogg-FLAC mapping (codecs/ogg.py), where
    each frame becomes exactly one Ogg packet."""
    if samples.ndim != 2:
        raise ValueError("encode_flac wants (n_samples, channels)")
    n, ch = samples.shape
    if ch not in (1, 2):
        raise ValueError("encode_flac supports 1-2 channels")
    bps = 16

    frame_no = 0
    for off in range(0, max(n, 1), block_size):
        blk = samples[off : off + block_size].astype(np.int64)
        bn = len(blk)
        if bn == 0:
            break
        # frame header
        hdr = BitWriter()
        hdr.write(0b11111111111110, 14)
        hdr.write(0, 1)
        hdr.write(0, 1)  # fixed blocksize stream
        hdr.write(7, 4)   # 16-bit blocksize-1 follows
        hdr.write(0, 4)   # sample rate: from STREAMINFO
        mode = stereo_mode
        if ch == 2 and mode == "auto":
            # pick the mode with the smallest order-2-residual magnitude —
            # a cheap proxy for the rice-coded size of each channel pair
            def _cost(v):
                if len(v) <= 2:
                    return int(np.abs(v).sum())
                return int(np.abs(v[2:] - 2 * v[1:-1] + v[:-2]).sum())

            left, right = blk[:, 0], blk[:, 1]
            side = left - right
            mid = (left + right) >> 1
            costs = {
                "independent": _cost(left) + _cost(right),
                "left_side": _cost(left) + _cost(side),
                "mid_side": _cost(mid) + _cost(side),
            }
            mode = min(costs, key=costs.get)
        if ch == 1 or mode == "independent":
            hdr.write(ch - 1, 4)
        elif mode == "left_side":
            hdr.write(8, 4)
        elif mode == "mid_side":
            hdr.write(10, 4)
        else:
            raise ValueError(f"unknown stereo_mode {stereo_mode!r}")
        hdr.write(0b100, 3)  # 16 bits per sample
        hdr.write(0, 1)
        hdr.align()
        hb = bytearray(hdr.bytes())
        _write_utf8_code(hb, frame_no)
        hb += (bn - 1).to_bytes(2, "big")
        hb.append(flac_crc8(bytes(hb)))

        w = BitWriter()
        if ch == 1 or mode == "independent":
            for c in range(ch):
                _encode_subframe(w, blk[:, c], bps)
        elif mode == "left_side":
            _encode_subframe(w, blk[:, 0], bps)
            _encode_subframe(w, blk[:, 0] - blk[:, 1], bps + 1)
        else:  # mid_side
            side = blk[:, 0] - blk[:, 1]
            mid = (blk[:, 0] + blk[:, 1]) >> 1
            _encode_subframe(w, mid, bps)
            _encode_subframe(w, side, bps + 1)
        w.align()
        frame = bytes(hb) + w.bytes()
        yield frame + struct.pack(">H", flac_crc16(frame)), bn
        frame_no += 1
