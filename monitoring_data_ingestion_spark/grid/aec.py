"""CCSDS 121.0-B lossless (Rice / adaptive entropy) coding — the
compression GRIB2 data representation template 5.42 wraps (the
libaec/"AEC" packing NCEP adopted for operational GFS output; wgrib2
reads it through libaec).  Implemented from the PUBLISHED CCSDS
121.0-B recommendation, from scratch, like the repo's JPEG2000
(grid/jpeg2000.py) and PNG (grid/png.py) codecs.

Wire format (per CCSDS 121.0-B, restated here as the implementation
contract so the tests can pin it octet-by-octet):

* Samples are n-bit unsigned integers (``nbits`` ≤ 32, MSB-first),
  grouped into BLOCKS of J samples (``block_size``; libaec/GRIB use
  16/32/64) and SEGMENTS of up to 64 blocks.  Every
  ``rsi`` blocks (the reference sample interval) starts a new
  REFERENCE group; segment (zero-run) accounting resets at both
  segment and RSI boundaries.
* PREPROCESSOR (optional, flag bit 8): unit-delay prediction with the
  standard non-negative mapper.  With predictor value p = previous
  sample, δ = x − p, θ = min(p, xmax − p):
      m = 2δ          if 0 ≤ δ ≤ θ
      m = −2δ − 1     if −θ ≤ δ < 0
      m = θ + |δ|     otherwise.
  The FIRST sample of each reference group is a REFERENCE SAMPLE: it
  rides RAW (n bits) inside its block's chosen option, and prediction
  restarts from it.
* Each block is coded by one OPTION, chosen per block and announced by
  an ID field of ``id_len`` bits (n ≤ 8 → 3, n ≤ 16 → 4, else 5 —
  BASIC mode widths; the 1/2-bit IDs belong to the RESTRICTED coding
  option this codec rejects, so small-n basic streams interoperate
  with libaec/wgrib2):
    - ID 0 + one extra bit '0' → ZERO-BLOCK: a run of consecutive
      all-zero blocks, its length FS-coded (run z → value z for
      z ≤ 4, value 5 = ROS "remainder of segment", value z + 1 for
      z ≥ 5); a reference sample opening the run rides raw before the
      run code.
    - ID 0 + extra bit '1' → SECOND EXTENSION: consecutive sample
      pairs (a, b) → γ = (a+b)(a+b+1)/2 + b, FS-coded.  A reference
      sample opening the block rides raw first; the remaining J−1
      samples pair with the FIRST gamma covering the lone sample δ1
      as the half-pair (0, δ1) — the decoder recovers b and DISCARDS
      the a part of that first gamma (libaec's decoder posture, which
      also accepts encoders that fold other values into a).
    - ID 1 .. 2^id_len − 2 → SPLIT k = ID − 1 (k = 0 is the plain
      FUNDAMENTAL SEQUENCE): each sample's high part (sample >> k)
      FS-coded in sample order, then every sample's k low bits, raw;
      a reference sample rides raw (n bits) FIRST and is excluded
      from both parts.
    - ID all-ones → UNCOMPRESSED: all J samples raw at n bits.
  FS codeword of value m = m '0' bits then a '1'.
* The final partial block (when the sample count is not a block
  multiple) pads with zero samples to J; the decoder truncates.  The
  whole bitstream pads with '0' bits to a byte boundary.

The ENCODER chooses per block the cheapest of {FS/split-k, second
extension, uncompressed} and emits zero-block runs for all-zero
stretches, like libaec.  The DECODER accepts every option above.
"""

from __future__ import annotations

import numpy as np

__all__ = ["aec_encode", "aec_decode"]

# CCSDS flag bits as GRIB template 5.42 octet 21 carries them
# (identical to libaec's AEC_DATA_* constants)
FLAG_SIGNED = 1
FLAG_3BYTE = 2
FLAG_MSB = 4
FLAG_PREPROCESS = 8
FLAG_RESTRICTED = 16
FLAG_PAD_RSI = 32

_SEGMENT_BLOCKS = 64  # zero-run accounting resets every 64 blocks


def _seg_end(bi: int, rsi: int) -> int:
    """Exclusive end block of the SEGMENT containing block ``bi``:
    segments are 64-block chunks counted WITHIN the current RSI group
    (libaec semantics — a zero run or ROS never crosses an RSI
    boundary, whether or not preprocessing is on)."""
    rsi_start = (bi // rsi) * rsi
    off = bi - rsi_start
    return rsi_start + min(rsi, (off // _SEGMENT_BLOCKS + 1) * _SEGMENT_BLOCKS)


def _id_len(nbits: int) -> int:
    # BASIC-mode ID widths (CCSDS 121.0-B / libaec): 3 bits for every
    # n ≤ 8.  The 1/2-bit IDs exist only under the RESTRICTED coding
    # option (FLAG_RESTRICTED, rejected above this layer) — using them
    # in basic mode would mis-parse every foreign n ≤ 4 stream.
    if nbits <= 8:
        return 3
    if nbits <= 16:
        return 4
    return 5


class _BitWriter:
    """MSB-first bit emitter accumulating numpy CHUNKS (one small array
    per field or per vectorized batch) — a per-bit Python list made
    encoding an operational-size field interpreter-bound; packbits over
    the concatenation stays O(bits) with constant-factor numpy work."""

    def __init__(self) -> None:
        self.chunks: list[np.ndarray] = []
        self.nbits = 0

    def write(self, value: int, width: int) -> None:
        if width:
            self.chunks.append(
                (
                    (value >> np.arange(width - 1, -1, -1)) & 1
                ).astype(np.uint8)
            )
            self.nbits += width

    def write_many(self, values, width: int) -> None:
        """Consecutive fixed-width fields, one vectorized chunk."""
        if width == 0:
            return
        vals = np.asarray(values, dtype=np.int64)
        if not len(vals):
            return
        bits = (
            (vals[:, None] >> np.arange(width - 1, -1, -1)[None, :]) & 1
        ).astype(np.uint8).reshape(-1)
        self.chunks.append(bits)
        self.nbits += bits.size

    def write_fs(self, value: int) -> None:
        a = np.zeros(value + 1, dtype=np.uint8)
        a[-1] = 1
        self.chunks.append(a)
        self.nbits += value + 1

    def write_fs_many(self, values) -> None:
        """Consecutive FS codewords, one vectorized chunk (ones at the
        cumulative-offset positions, zeros elsewhere)."""
        vals = np.asarray(values, dtype=np.int64)
        if not len(vals):
            return
        total = int(vals.sum()) + len(vals)
        a = np.zeros(total, dtype=np.uint8)
        a[np.cumsum(vals + 1) - 1] = 1
        self.chunks.append(a)
        self.nbits += total

    def align(self) -> None:
        pad = (-self.nbits) % 8
        if pad:
            self.chunks.append(np.zeros(pad, dtype=np.uint8))
            self.nbits += pad

    def tobytes(self) -> bytes:
        pad = (-self.nbits) % 8
        tail = [np.zeros(pad, dtype=np.uint8)] if pad else []
        if not self.chunks and not tail:
            return b""
        return np.packbits(np.concatenate(self.chunks + tail)).tobytes()


class _BitReader:
    """MSB-first bit cursor that LOCATES fields; the payload values are
    gathered afterwards in vectorized passes.

    Cost model: a scalar fixed-width field (block ID, reference sample)
    is sliced from the coded BYTES — O(1), no per-bit loop.  A run of FS
    codewords is stepped over with one ``np.searchsorted`` into the
    one-bit index from the cursor — O(log ones) per run, however long.
    :meth:`fields` and :meth:`fs_values` then decode every recorded run
    at once (a 64-bit window per fixed-width field, one gap per FS
    codeword), so a whole field costs O(bits) numpy work plus a few
    scalar steps per BLOCK."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.size = len(data) * 8
        buf = np.frombuffer(data, dtype=np.uint8)
        self.ones = np.flatnonzero(np.unpackbits(buf).view(np.bool_))
        # the big-endian 64-bit word starting at EVERY byte offset (an
        # overlapping stride-1 view; 8 zero bytes of tail keep the last
        # words in bounds)
        padded = np.concatenate([buf, np.zeros(8, dtype=np.uint8)])
        self._words = np.ndarray(
            (len(buf),), dtype=">u8", buffer=padded, strides=(1,)
        )
        self.pos = 0

    def skip(self, width: int) -> None:
        if self.pos + width > self.size:
            raise ValueError("truncated CCSDS/AEC bitstream")
        self.pos += width

    def read(self, width: int) -> int:
        start = self.pos
        self.skip(width)
        v = int.from_bytes(self.data[start >> 3 : (self.pos + 7) >> 3], "big")
        return (v >> (-self.pos & 7)) & ((1 << width) - 1)

    def align(self) -> None:
        self.pos = (self.pos + 7) // 8 * 8

    def skip_fs(self, count: int) -> int:
        """Step over ``count`` consecutive FS codewords; return the
        index into :attr:`ones` of the first codeword's one-bit."""
        oi = int(self.ones.searchsorted(self.pos))
        if oi + count > len(self.ones):
            raise ValueError("truncated CCSDS/AEC bitstream (open FS code)")
        self.pos = int(self.ones[oi + count - 1]) + 1
        return oi

    def read_fs(self) -> int:
        start = self.pos
        self.skip_fs(1)
        return self.pos - 1 - start

    def fields(self, pos: np.ndarray, width: np.ndarray) -> np.ndarray:
        """Fixed-width (1-32 bit) fields starting at bit offsets ``pos``:
        each read through the 64-bit big-endian window at its byte."""
        words = self._words[pos >> 3].astype(np.uint64)
        words <<= (pos & 7).astype(np.uint64)
        return (words >> (64 - width).astype(np.uint64)).astype(np.int64)

    def fs_values(self, start: np.ndarray, first_one: np.ndarray,
                  counts: np.ndarray) -> np.ndarray:
        """Values of FS codeword runs (run r: ``counts[r]`` codewords
        from bit ``start[r]``, its first one-bit at ``ones[first_one[r]]``)
        concatenated in run order — each value is the gap of zeros
        before its one-bit."""
        run, off = _expand(counts)
        idx = first_one[run] + off
        ends = self.ones[idx]
        prev = np.where(off == 0, start[run], self.ones[idx - 1] + 1)
        return ends - prev


def _expand(counts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(run index, offset within run) of every element of runs of
    lengths ``counts``, flattened in run order."""
    run = np.repeat(np.arange(len(counts)), counts)
    first = np.cumsum(counts) - counts
    return run, np.arange(len(run)) - first[run]


def _preprocess(samples: np.ndarray, nbits: int, rsi_blocks: int,
                block: int) -> np.ndarray:
    """Unit-delay + mapper, restarting at each reference sample (the
    first sample of every ``rsi_blocks``-block group); the reference
    sample itself passes through UNMAPPED."""
    x = samples.astype(np.int64)
    xmax = (1 << nbits) - 1
    out = np.empty_like(x)
    ref_stride = rsi_blocks * block
    for s0 in range(0, len(x), ref_stride):
        seg = x[s0 : s0 + ref_stride]
        out[s0] = seg[0]  # reference sample, raw
        p = seg[:-1]      # predictor = previous sample
        d = seg[1:] - p
        theta = np.minimum(p, xmax - p)
        m = np.where(
            (d >= 0) & (d <= theta),
            2 * d,
            np.where((d < 0) & (-d <= theta), -2 * d - 1, theta + np.abs(d)),
        )
        out[s0 + 1 : s0 + len(seg)] = m
    return out


def _postprocess(mapped: np.ndarray, nbits: int, rsi_blocks: int,
                 block: int) -> np.ndarray:
    """Inverse of :func:`_preprocess`, in one linear pass.

    Each step's θ depends on the previous sample, so the inverse mapper
    is a recurrence — but its common IN-RANGE branch (m ≤ 2θ) is the
    plain zigzag inverse, whose delta does not depend on the predictor,
    and its SATURATED branch resets the state to m (lower half of the
    range) or xmax − m (upper half) whatever the exact predictor was.
    So every reference group is first reconstructed vectorized (zigzag
    + segmented cumsum); the candidate is exact up to its group's FIRST
    saturated sample, and from there the group finishes in a scalar
    loop over Python ints (O(1) per sample).  Cost: O(n) numpy work
    plus O(samples after a group's first saturation) interpreter steps."""
    m = mapped.astype(np.int64)
    xmax = (1 << nbits) - 1
    n = len(m)
    stride = rsi_blocks * block
    starts = np.arange(0, n, stride)
    refs = m[starts]
    if int(refs.max()) > xmax:
        p = int(refs[np.argmax(refs > xmax)])
        raise ValueError(
            f"CCSDS reference sample {p} exceeds {nbits}-bit range"
        )
    if int(m.max()) > xmax:
        # every mapped value of a valid stream is ≤ xmax; a larger one
        # lands in the saturated branch and leaves the sample range
        raise ValueError(
            "CCSDS preprocessor state escaped the sample range "
            "(corrupt stream)"
        )
    d = np.where(m & 1, -((m + 1) >> 1), m >> 1)
    d[starts] = refs
    cs = np.cumsum(d)
    group = np.arange(n) // stride
    cand = cs - (cs[starts] - refs)[group]
    prev = np.roll(cand, 1)  # predictor of each non-reference sample
    viol = m > 2 * np.minimum(prev, xmax - prev)
    viol[starts] = False
    hits = np.flatnonzero(viol)
    if not len(hits):
        return cand
    half = xmax >> 1  # p ≤ half ⟺ p < xmax − p (xmax is odd)
    firsts = hits[np.r_[True, group[hits[1:]] != group[hits[:-1]]]]
    for f in firsts.tolist():
        end = min((f // stride + 1) * stride, n)
        p = int(cand[f - 1])
        tail = []
        for v, dv in zip(m[f:end].tolist(), d[f:end].tolist()):
            if p <= half:
                p = p + dv if v <= 2 * p else v
            else:
                p = p + dv if v <= 2 * (xmax - p) else xmax - v
            tail.append(p)
        cand[f:end] = tail
    return cand


def aec_encode(
    samples: np.ndarray,
    nbits: int,
    *,
    flags: int = FLAG_MSB | FLAG_PREPROCESS,
    block_size: int = 32,
    rsi: int = 128,
) -> bytes:
    """Encode non-negative ``nbits``-bit integers → CCSDS 121.0 bytes."""
    if not 1 <= nbits <= 32:
        raise ValueError(f"CCSDS sample resolution {nbits} out of 1-32")
    if not flags & FLAG_MSB:
        raise ValueError("only MSB-first CCSDS streams are supported")
    if flags & (FLAG_SIGNED | FLAG_RESTRICTED):
        raise ValueError(
            "signed / restricted CCSDS coding options are not supported"
        )
    if block_size not in (8, 16, 32, 64):
        raise ValueError(f"CCSDS block size {block_size} not in 8/16/32/64")
    if rsi < 1 or rsi > 0xFFFF:
        raise ValueError(f"reference sample interval {rsi} out of range")
    pad_rsi = bool(flags & FLAG_PAD_RSI)
    x = np.asarray(samples, dtype=np.int64).reshape(-1)
    if len(x) == 0:
        return b""
    if int(x.min()) < 0 or int(x.max()) >> nbits:
        raise ValueError(f"samples exceed the {nbits}-bit range")
    if flags & FLAG_PREPROCESS:
        m = _preprocess(x, nbits, rsi, block_size)
    else:
        m = x.copy()
    n_total = len(m)
    j = block_size
    pad = (-n_total) % j
    if pad:
        m = np.concatenate([m, np.zeros(pad, dtype=np.int64)])
    id_len = _id_len(nbits)
    id_uncomp = (1 << id_len) - 1
    k_max = id_uncomp - 2  # IDs 1..id_uncomp-1 are splits k = id-1
    w = _BitWriter()
    nblocks = len(m) // j
    bi = 0
    while bi < nblocks:
        if pad_rsi and bi and bi % rsi == 0:
            w.align()  # coded data byte-aligns at each RSI boundary
        is_ref = flags & FLAG_PREPROCESS and bi % rsi == 0
        blk = m[bi * j : (bi + 1) * j]
        data = blk[1:] if is_ref else blk
        # zero-block run: this and following all-zero DATA blocks
        # within the segment (64-block chunks inside the RSI group —
        # a run never crosses an RSI boundary)
        if not data.any():
            run = 1
            seg_end = _seg_end(bi, rsi)
            nxt = bi + 1
            while (
                nxt < min(nblocks, seg_end)
                and not m[nxt * j : (nxt + 1) * j].any()
            ):
                run += 1
                nxt += 1
            w.write(0, id_len)  # ID 0
            w.write(0, 1)       # '0' → zero-block
            if is_ref:
                w.write(int(blk[0]), nbits)
            # FS-coded run VALUE per spec: z ≤ 4 → z, ROS (zero to the
            # segment end, z ≥ 5) → 5, else z + 1; sent as FS(value−1)
            # since every run is at least 1
            ros = nxt >= min(nblocks, seg_end)
            if ros and run >= 5:
                w.write_fs(4)
            elif run <= 4:
                w.write_fs(run - 1)
            else:
                w.write_fs(run)
            bi = nxt
            continue
        # candidate costs: FS/split-k vs second extension vs
        # uncompressed (all pay id_len; SE and zero-block pay the one
        # extra extension-select bit) — all split costs in one
        # vectorized sweep
        ks = np.arange(min(k_max, nbits - 1) + 1)
        ref_bits = nbits if is_ref else 0
        split_costs = (
            (data[None, :] >> ks[:, None]).sum(axis=1)
            + (ks + 1) * len(data)
            + ref_bits
        )
        best_k, best_cost = None, j * nbits  # uncompressed cost
        kbest = int(np.argmin(split_costs))
        if int(split_costs[kbest]) < best_cost:
            best_k, best_cost = kbest, int(split_costs[kbest])
        # second extension: pair the data samples; a reference block
        # pairs its J−1 remaining samples with the first gamma the
        # half-pair (0, δ1)
        if is_ref:
            se_pairs = [(0, int(data[0]))] + [
                (int(data[i]), int(data[i + 1]))
                for i in range(1, len(data), 2)
            ]
        else:
            se_pairs = [
                (int(data[i]), int(data[i + 1]))
                for i in range(0, len(data), 2)
            ]
        gammas = [(a + b) * (a + b + 1) // 2 + b for a, b in se_pairs]
        se_cost = (
            1 + (nbits if is_ref else 0) + sum(gammas) + len(gammas)
        )
        if se_cost < best_cost:
            w.write(0, id_len)
            w.write(1, 1)  # '1' → second extension
            if is_ref:
                w.write(int(blk[0]), nbits)
            w.write_fs_many(gammas)
        elif best_k is None:
            w.write(id_uncomp, id_len)
            w.write_many(blk, nbits)
        else:
            w.write(best_k + 1, id_len)
            if is_ref:
                w.write(int(blk[0]), nbits)
            w.write_fs_many(data >> best_k)
            if best_k:
                w.write_many(data & ((1 << best_k) - 1), best_k)
        bi += 1
    return w.tobytes()


def aec_decode(
    data: bytes,
    n_samples: int,
    nbits: int,
    *,
    flags: int = FLAG_MSB | FLAG_PREPROCESS,
    block_size: int = 32,
    rsi: int = 128,
) -> np.ndarray:
    """Decode a CCSDS 121.0 stream → int64 array of ``n_samples``.

    Two passes: a scalar BLOCK-HEADER pass reads each block's option ID
    (and reference sample) and steps over its payload, recording where
    the FS codewords and raw fields lie; then every split-k / FS,
    uncompressed and second-extension payload of the stream is gathered
    in one vectorized pass per kind."""
    if not 1 <= nbits <= 32:
        raise ValueError(f"CCSDS sample resolution {nbits} out of 1-32")
    if not flags & FLAG_MSB:
        raise ValueError("only MSB-first CCSDS streams are supported")
    if flags & (FLAG_SIGNED | FLAG_RESTRICTED):
        raise ValueError(
            "signed / restricted CCSDS coding options are not supported"
        )
    if block_size not in (8, 16, 32, 64):
        raise ValueError(f"CCSDS block size {block_size} not in 8/16/32/64")
    if n_samples == 0:
        return np.zeros(0, dtype=np.int64)
    r = _BitReader(bytes(data))
    j = block_size
    id_len = _id_len(nbits)
    id_uncomp = (1 << id_len) - 1
    pad_rsi = bool(flags & FLAG_PAD_RSI)
    preprocess = bool(flags & FLAG_PREPROCESS)
    nblocks = (n_samples + j - 1) // j
    m = np.zeros(nblocks * j, dtype=np.int64)
    # payload runs located by the header pass, one tuple per block:
    # FS runs (start bit, first one index, count, first sample, shift k),
    # raw-field runs (start bit, width, count, first sample) OR-ed in,
    # second-extension blocks (start bit, first one index, first
    # sample, is_ref)
    fs_runs: list[tuple[int, int, int, int, int]] = []
    raw_runs: list[tuple[int, int, int, int]] = []
    se_runs: list[tuple[int, int, int, bool]] = []
    bi = 0
    while bi < nblocks:
        if pad_rsi and bi and bi % rsi == 0:
            r.align()  # coded data byte-aligns at each RSI boundary
        is_ref = preprocess and bi % rsi == 0
        start = bi * j
        opt = r.read(id_len)
        if opt == 0:
            zero_block = r.read(1) == 0
            if is_ref:
                m[start] = r.read(nbits)
            if zero_block:
                code = r.read_fs() + 1  # FS(value-1) → value
                if code == 5:  # ROS: zero to the end of the segment
                    run = min(_seg_end(bi, rsi), nblocks) - bi
                elif code <= 4:
                    run = code
                else:
                    run = code - 1
                if bi + run > (bi // rsi + 1) * rsi:
                    # a zero run never crosses an RSI boundary: with
                    # preprocessing the next group's reference sample
                    # was never transmitted, and without it the run
                    # accounting restarts there — malformed either way
                    raise ValueError(
                        "CCSDS zero-block run crosses an RSI boundary "
                        "(swallows a reference sample)"
                    )
                if bi + run > nblocks:
                    raise ValueError(
                        "CCSDS zero-block run exceeds the sample count"
                    )
                bi += run
                continue
            # second extension: J/2 gammas; with a reference sample
            # the ref rides raw first and the FIRST gamma carries only
            # its b half (δ1) — the a half is discarded undecoded,
            # libaec's decoder posture (accepts half-pair (0, δ1)
            # encoders and those folding other values into a alike)
            pos = r.pos
            se_runs.append((pos, r.skip_fs(j // 2), start, is_ref))
        elif opt == id_uncomp:
            raw_runs.append((r.pos, nbits, j, start))
            r.skip(j * nbits)
        else:
            k = opt - 1
            if k > nbits - 1:
                raise ValueError(
                    f"CCSDS split exponent {k} exceeds the {nbits}-bit "
                    "samples"
                )
            if is_ref:
                m[start] = r.read(nbits)
                start += 1
            count = (bi + 1) * j - start
            pos = r.pos
            fs_runs.append((pos, r.skip_fs(count), count, start, k))
            if k:
                raw_runs.append((r.pos, k, count, start))
                r.skip(count * k)
        bi += 1
    if fs_runs:
        pos, one, count, dst, k = (np.array(c) for c in zip(*fs_runs))
        run, off = _expand(count)
        m[dst[run] + off] = r.fs_values(pos, one, count) << k[run]
    if raw_runs:
        pos, width, count, dst = (np.array(c) for c in zip(*raw_runs))
        run, off = _expand(count)
        m[dst[run] + off] |= r.fields(pos[run] + off * width[run], width[run])
    if se_runs:
        pos, one, dst, ref = (np.array(c) for c in zip(*se_runs))
        count = np.full(len(pos), j // 2)
        gam = r.fs_values(pos, one, count)
        # invert gamma = s(s+1)/2 + b with a+b = s, vectorized
        # (float sqrt seed + exact integer correction)
        s_ = ((np.sqrt(8.0 * gam + 1.0) - 1.0) // 2).astype(np.int64)
        over = s_ * (s_ + 1) // 2 > gam
        while over.any():
            s_[over] -= 1
            over = s_ * (s_ + 1) // 2 > gam
        under = (s_ + 1) * (s_ + 2) // 2 <= gam
        while under.any():
            s_[under] += 1
            under = (s_ + 1) * (s_ + 2) // 2 <= gam
        b_ = gam - s_ * (s_ + 1) // 2
        a_ = s_ - b_
        run, off = _expand(count)
        at = dst[run] + 2 * off
        keep_a = ~(ref[run] & (off == 0))  # the ref's slot keeps the ref
        m[at[keep_a]] = a_[keep_a]
        m[at + 1] = b_
    m = m[:n_samples]
    if preprocess:
        return _postprocess(m, nbits, rsi, block_size)
    if int(m.max(initial=0)) >> nbits:
        raise ValueError("decoded CCSDS sample exceeds the declared range")
    return m
