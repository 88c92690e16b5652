"""Gorilla compression (Facebook Gorilla paper: Pelkonen et al., VLDB 2015).

Two independent streams, matching the tier-table columns (FIXTURES.md F4):

``ts_gorilla`` — delta-of-delta timestamps:
  header: 64-bit first timestamp; then per point
  dod == 0                -> '0'
  dod in [-63, 64]        -> '10'   + 7  bits (dod + 63)
  dod in [-255, 256]      -> '110'  + 9  bits (dod + 255)
  dod in [-2047, 2048]    -> '1110' + 12 bits (dod + 2047)
  else                    -> '1111' + 64 bits two's-complement
(last bucket is 64-bit instead of the paper's 32 so millisecond timestamps
with arbitrary gaps round-trip exactly.)

``val_gorilla`` — XOR floats:
  header: 64-bit first value raw IEEE bits; then per point
  xor == 0 -> '0'
  else     -> '1' + '1' + 5 bits leading-zero count (clamped to 31)
                  + 6 bits meaningful-bit length (64 encoded as 0)
                  + meaningful bits
We always emit a fresh leading/length window (control '1'); the paper's
"reuse previous window" ('10') control introduces a sequential dependency
that defeats vectorization. Decoders never see control '10'.

Each block is zero-padded to a byte boundary; point count is carried
out-of-band (the tier table's `count` column).

``encode_ts_blocks`` / ``encode_val_blocks`` are fully vectorized across
every block in a batch: per-field (code, nbits) pairs are laid out with a
global cumsum of bit offsets, each field contributes to at most two 64-bit
output words, and contributions are merged with one bitwise_or.reduceat
pass (fields arrive in stream order, so word indices are sorted) — no
per-point or per-block Python in the encode path (north_rule: no per-row
Python). ``decode_ts_points`` / ``decode_val_points`` are the read path,
vectorized across blocks (section "batched" below); ``decode_ts_block`` /
``decode_val_block`` are per-bit reference readers for verification.
"""

from __future__ import annotations

import numpy as np

__all__ = [
    "encode_ts_blocks",
    "encode_val_blocks",
    "decode_ts_block",
    "decode_val_block",
    "decode_ts_points",
    "decode_val_points",
    "decode_ts_blocks",
    "decode_val_blocks",
]

_U64 = np.uint64


def _ts_fields(dod: np.ndarray):
    """Per-point timestamp (prefix_code, prefix_nbits, payload, payload_nbits)."""
    a0 = dod == 0
    a1 = (dod >= -63) & (dod <= 64) & ~a0
    a2 = (dod >= -255) & (dod <= 256) & ~(a0 | a1)
    a3 = (dod >= -2047) & (dod <= 2048) & ~(a0 | a1 | a2)
    a4 = ~(a0 | a1 | a2 | a3)

    pc = np.zeros(dod.shape, dtype=np.uint64)
    pn = np.ones(dod.shape, dtype=np.int64)
    pay = np.zeros(dod.shape, dtype=np.uint64)
    pb = np.zeros(dod.shape, dtype=np.int64)

    pc[a1], pn[a1], pay[a1], pb[a1] = 0b10, 2, (dod[a1] + 63).astype(np.uint64), 7
    pc[a2], pn[a2], pay[a2], pb[a2] = 0b110, 3, (dod[a2] + 255).astype(np.uint64), 9
    pc[a3], pn[a3], pay[a3], pb[a3] = 0b1110, 4, (dod[a3] + 2047).astype(np.uint64), 12
    pc[a4], pn[a4], pay[a4], pb[a4] = 0b1111, 4, dod[a4].astype(np.int64).view(np.uint64), 64
    return pc, pn, pay, pb


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (valid for x > 0).
    Split into 32-bit halves; each half is exactly representable in
    float64, so frexp's exponent IS the bit length."""
    hi = (x >> _U64(32)).astype(np.float64)
    lo = (x & _U64(0xFFFFFFFF)).astype(np.float64)
    _, e_hi = np.frexp(hi)
    _, e_lo = np.frexp(lo)
    bitlen = np.where(hi > 0, e_hi + 32, e_lo)
    return 64 - bitlen.astype(np.int64)


def _ctz64(x: np.ndarray) -> np.ndarray:
    lowbit = x & (~x + _U64(1))
    return 63 - _clz64(lowbit)


def _val_fields(xor: np.ndarray):
    """Per-point value (prefix_code, prefix_nbits, payload, payload_nbits)."""
    zero = xor == 0
    nz = ~zero
    pc = np.zeros(xor.shape, dtype=np.uint64)
    pn = np.ones(xor.shape, dtype=np.int64)
    pay = np.zeros(xor.shape, dtype=np.uint64)
    pb = np.zeros(xor.shape, dtype=np.int64)
    if nz.any():
        x = xor[nz]
        lead = np.minimum(_clz64(x), 31)
        trail = _ctz64(x)
        mlen = 64 - lead - trail  # meaningful bits incl. clamp slack, 1..64
        pc_nz = (_U64(0b11) << _U64(11)) | (lead.astype(np.uint64) << _U64(6)) | (
            (mlen % 64).astype(np.uint64)
        )
        pc[nz] = pc_nz
        pn[nz] = 13
        pay[nz] = x >> trail.astype(np.uint64)
        pb[nz] = mlen
    return pc, pn, pay, pb


def _pack_fields(codes, nbits, block_of_field, nblocks):
    """Pack variable-width fields MSB-first; blocks byte-aligned.
    Fields must arrive block-contiguous, in stream order.

    Word-level scatter: each field contributes to at most two 64-bit
    big-endian words of the output; contributions are OR-merged with
    bitwise_or.at — O(fields) work instead of O(total bits)."""
    # fields are block-contiguous: first field index of each block via
    # searchsorted, block bit totals via one reduceat pass
    first_field = np.searchsorted(block_of_field, np.arange(nblocks))
    blockbits = np.add.reduceat(nbits, first_field)
    blockbits[np.diff(np.append(first_field, len(nbits))) == 0] = 0
    padded = ((blockbits + 7) // 8) * 8
    block_bit_start = np.zeros(nblocks + 1, dtype=np.int64)
    np.cumsum(padded, out=block_bit_start[1:])

    ends_in_stream = np.cumsum(nbits)
    prev_blocks_bits = np.concatenate(([0], np.cumsum(blockbits)))[block_of_field]
    start_in_block = ends_in_stream - nbits - prev_blocks_bits
    offsets = block_bit_start[block_of_field] + start_in_block

    total_bits = int(block_bit_start[-1])
    if not total_bits:
        return b"", block_bit_start // 8
    n_words = (total_bits + 63) // 64 + 1  # +1 spill word for spans
    buf = np.zeros(n_words, dtype=np.uint64)

    w_idx = offsets >> 6
    s = (offsets & 63).view(np.uint64)  # bit offset within word (from MSB)
    nb = nbits.view(np.uint64)
    # bits [s, s+nb) of word w, counted from the MSB
    end = s + nb
    fits = end <= 64
    spans = ~fits
    part1 = np.empty_like(codes)
    part1[fits] = codes[fits] << (np.uint64(64) - end[fits])
    if spans.any():
        part1[spans] = codes[spans] >> (end[spans] - np.uint64(64))
    _or_scatter_sorted(buf, w_idx, part1)
    if spans.any():
        part2 = codes[spans] << (np.uint64(128) - end[spans])
        _or_scatter_sorted(buf, w_idx[spans] + 1, part2)

    packed = buf.byteswap().view(np.uint8)[: (total_bits + 7) // 8]
    return packed.tobytes(), block_bit_start // 8


def _or_scatter_sorted(buf: np.ndarray, idx: np.ndarray, vals: np.ndarray) -> None:
    """buf[idx] |= vals where idx is NON-DECREASING (stream order): group
    equal indices with bitwise_or.reduceat — sequential C-speed, unlike the
    random-access ufunc.at."""
    if len(idx) == 0:
        return
    starts = np.concatenate(([0], np.nonzero(np.diff(idx))[0] + 1))
    merged = np.bitwise_or.reduceat(vals, starts)
    buf[idx[starts]] |= merged


def _split(buf: bytes, byte_off: np.ndarray) -> list[bytes]:
    mv = memoryview(buf)
    return [bytes(mv[byte_off[i]: byte_off[i + 1]]) for i in range(len(byte_off) - 1)]


def _layout(nblocks, counts, n, pc, pn, pay, pb):
    """Field stream for n points in nblocks blocks: one 64-bit header per
    block-first point; for body points, prefix and payload are MERGED into
    a single field when their total width fits 64 bits (the emitted bit
    stream is identical — purely fewer scatter operations), else two
    fields. pc/pn/pay/pb are the body points' prefix/payload codes+widths
    in stream order."""
    starts = np.zeros(nblocks, dtype=np.int64)
    np.cumsum(counts[:-1], out=starts[1:])
    is_first = np.zeros(n, dtype=bool)
    is_first[starts] = True
    body = ~is_first

    tot = pn + pb
    fits = tot <= 64
    # fields per point: 1 for headers and merged bodies, 2 for split bodies
    nf = np.ones(n, dtype=np.int64)
    nf[body] += (~fits).astype(np.int64)
    fidx = np.zeros(n, dtype=np.int64)
    np.cumsum(nf[:-1], out=fidx[1:])
    nfields = int(fidx[-1] + nf[-1])

    codes = np.empty(nfields, dtype=np.uint64)
    fbits = np.empty(nfields, dtype=np.int64)
    fblock = np.empty(nfields, dtype=np.int64)
    block_of_point = np.repeat(np.arange(nblocks), counts)

    # body fields
    bidx = fidx[body]
    mcode = np.where(fits, (pc << pb.view(np.uint64)) | pay, pc)
    codes[bidx] = mcode
    fbits[bidx] = np.where(fits, tot, pn)
    fblock[bidx] = block_of_point[body]
    splits = np.nonzero(~fits)[0]
    if len(splits):
        sidx = bidx[splits] + 1
        codes[sidx] = pay[splits]
        fbits[sidx] = pb[splits]
        fblock[sidx] = block_of_point[body][splits]

    # header fields (overwrite the slots reserved at block firsts)
    hdr_idx = fidx[starts]
    fbits[hdr_idx] = 64
    fblock[hdr_idx] = np.arange(nblocks)
    return codes, fbits, fblock, hdr_idx, starts


def encode_ts_blocks(ts: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """Delta-of-delta encode many timestamp blocks at once (vectorized)."""
    ts = np.ascontiguousarray(ts, dtype=np.int64)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    nblocks = len(offsets) - 1
    if nblocks == 0:
        return []
    counts = offsets[1:] - offsets[:-1]
    if (counts <= 0).any():
        raise ValueError("empty blocks not supported")
    n = len(ts)
    starts = offsets[:-1]

    delta = np.empty(n, dtype=np.int64)
    delta[1:] = ts[1:] - ts[:-1]
    delta[starts] = 0
    prev_delta = np.empty(n, dtype=np.int64)
    prev_delta[1:] = delta[:-1]
    prev_delta[starts] = 0
    # second point of each block encodes its delta as dod vs prev_delta=0
    sec = starts + 1
    sec = sec[sec < n]
    is_first = np.zeros(n, dtype=bool)
    is_first[starts] = True
    sec = sec[~is_first[sec]]
    prev_delta[sec] = 0
    dod = (delta - prev_delta)[~is_first]

    tpc, tpn, tpay, tpb = _ts_fields(dod)
    codes, fbits, fblock, hdr_idx, _ = _layout(
        nblocks, counts, n, tpc, tpn, tpay, tpb
    )
    codes[hdr_idx] = ts[starts].view(np.uint64)
    buf, byte_off = _pack_fields(codes, fbits, fblock, nblocks)
    return _split(buf, byte_off)


def encode_val_blocks(vals: np.ndarray, offsets: np.ndarray) -> list[bytes]:
    """XOR-encode many float blocks at once (vectorized)."""
    vals = np.ascontiguousarray(vals, dtype=np.float64)
    offsets = np.ascontiguousarray(offsets, dtype=np.int64)
    nblocks = len(offsets) - 1
    if nblocks == 0:
        return []
    counts = offsets[1:] - offsets[:-1]
    if (counts <= 0).any():
        raise ValueError("empty blocks not supported")
    n = len(vals)
    starts = offsets[:-1]

    bits = vals.view(np.uint64)
    xor = np.zeros(n, dtype=np.uint64)
    xor[1:] = bits[1:] ^ bits[:-1]
    is_first = np.zeros(n, dtype=bool)
    is_first[starts] = True
    xor_body = xor[~is_first]

    vpc, vpn, vpay, vpb = _val_fields(xor_body)
    codes, fbits, fblock, hdr_idx, _ = _layout(
        nblocks, counts, n, vpc, vpn, vpay, vpb
    )
    codes[hdr_idx] = bits[starts]
    buf, byte_off = _pack_fields(codes, fbits, fblock, nblocks)
    return _split(buf, byte_off)


class _BitReader:
    def __init__(self, data: bytes):
        self.bits = np.unpackbits(np.frombuffer(data, dtype=np.uint8))
        self.pos = 0

    def read(self, n: int) -> int:
        v = 0
        for b in self.bits[self.pos: self.pos + n]:
            v = (v << 1) | int(b)
        self.pos += n
        return v


def decode_ts_block(data: bytes, count: int) -> np.ndarray:
    """Sequential reference decoder for one timestamp block."""
    r = _BitReader(data)
    ts = np.empty(count, dtype=np.int64)
    t = r.read(64)
    ts[0] = np.uint64(t).astype(np.int64)
    delta = 0
    for i in range(1, count):
        if r.read(1) == 0:
            dod = 0
        elif r.read(1) == 0:
            dod = r.read(7) - 63
        elif r.read(1) == 0:
            dod = r.read(9) - 255
        elif r.read(1) == 0:
            dod = r.read(12) - 2047
        else:
            raw = r.read(64)
            dod = raw - (1 << 64) if raw >= (1 << 63) else raw
        delta += dod
        ts[i] = ts[i - 1] + delta
    return ts


def decode_val_block(data: bytes, count: int) -> np.ndarray:
    """Sequential reference decoder for one value block."""
    r = _BitReader(data)
    vb = np.empty(count, dtype=np.uint64)
    vb[0] = r.read(64)
    for i in range(1, count):
        if r.read(1) == 0:
            vb[i] = vb[i - 1]
        else:
            if r.read(1) != 1:  # '10' never emitted by this encoder
                raise ValueError("unsupported control bit sequence")
            lead = r.read(5)
            mlen = r.read(6) or 64
            meaningful = r.read(mlen)
            trail = 64 - lead - mlen
            vb[i] = vb[i - 1] ^ (np.uint64(meaningful) << np.uint64(trail))
    return vb.view(np.float64)


# --------------------------------------------------------------- batched
# Cross-block decoders: a block's codes are sequential, so the vector axis
# is across blocks. All blocks sit in one joined word buffer, longest
# first; step i advances only the prefix of blocks that have a point i and
# writes each point straight into a flat output. Memory is O(points +
# bytes) and vector work O(points) for any mix of block lengths.

def _window64(words: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """The 64 bits at bit offset `pos` of the joined stream (clipped, so a
    corrupt block's cursor past the end reads garbage, caught later)."""
    wi = (pos >> _U64(6)).astype(np.intp)
    sh = pos & _U64(63)
    w1 = words.take(wi + 1, mode="clip")
    return (words.take(wi, mode="clip") << sh) | ((w1 >> _U64(1)) >> (_U64(63) - sh))


def _val_step(words, pos, state) -> np.ndarray:
    """One XOR-coded value per block; state[0] = previous value bits."""
    reg = _window64(words, pos)
    is_xor = (reg >> _U64(63)).astype(bool)
    lead = (reg >> _U64(57)) & _U64(31)
    m6 = (reg >> _U64(51)) & _U64(63)
    mlen = np.where(m6 == 0, _U64(64), m6)
    meaningful = _window64(words, pos + _U64(13)) >> ((_U64(64) - m6) & _U64(63))
    trail = _U64(64) - lead - mlen
    state[0] ^= np.where(is_xor, meaningful << trail, _U64(0))
    pos += np.where(is_xor, _U64(13) + mlen, _U64(1))
    return state[0]


# bits one timestamp point takes, by the top 4 bits at its cursor
_TS_BITS = np.array([1] * 8 + [9] * 4 + [12] * 2 + [16, 68], dtype=np.uint64)


def _ts_step(words, pos, state) -> np.ndarray:
    """One delta-of-delta timestamp per block; state = (previous ts, delta)
    as uint64 bits, whose sums wrap exactly like int64."""
    reg = _window64(words, pos)
    top = reg >> _U64(60)
    p7 = ((reg >> _U64(55)) & _U64(0x7F)) - _U64(63)
    p9 = ((reg >> _U64(52)) & _U64(0x1FF)) - _U64(255)
    p12 = ((reg >> _U64(48)) & _U64(0xFFF)) - _U64(2047)
    p64 = _window64(words, pos + _U64(4))
    state[1] += np.where(top < 8, _U64(0), np.where(top < 12, p7, np.where(
        top < 14, p9, np.where(top < 15, p12, p64))))
    state[0] += state[1]
    pos += _TS_BITS[top]
    return state[0]


def _decode_points(blocks, counts, step, n_state: int) -> np.ndarray:
    """Every point of every block as uint64 bits, in block order."""
    counts = np.asarray(counts, dtype=np.int64)
    first = np.concatenate(([0], np.cumsum(counts)))
    out = np.empty(int(first[-1]), dtype=np.uint64)
    if not len(out):
        return out
    nbytes = np.fromiter(map(len, blocks), np.int64, count=len(counts))
    bit = np.concatenate(([0], np.cumsum(nbytes))).astype(np.uint64) * _U64(8)
    buf = np.zeros((-(-int(bit[-1]) // 64) + 2) * 8, dtype=np.uint8)  # +2 guard words
    buf[: int(bit[-1]) // 8] = np.frombuffer(b"".join(blocks), dtype=np.uint8)
    words = buf.view(">u8").astype(np.uint64)

    order = np.argsort(-counts, kind="stable")
    n_open = np.searchsorted(-counts[order], -np.arange(counts.max()))  # count > i
    pos, dst, n = bit[:-1][order], first[:-1][order], n_open[0]
    state = np.zeros((n_state, n), dtype=np.uint64)
    state[0] = _window64(words, pos[:n])
    pos[:n] += _U64(64)
    out[dst[:n]] = state[0]
    for i, k in enumerate(n_open[1:], 1):
        out[dst[:k] + i] = step(words, pos[:k], state[:, :k])
    over = np.flatnonzero(pos[:n] > bit[1:][order[:n]])
    if len(over):
        b = order[over[0]]
        raise ValueError(f"Gorilla block {b} ({nbytes[b]} bytes) is too short "
                         f"for its {counts[b]} points")
    return out


def decode_val_points(blocks, counts) -> np.ndarray:
    """Every value of every block, flat float64 in block order."""
    return _decode_points(blocks, counts, _val_step, 1).view(np.float64)


def decode_ts_points(blocks, counts) -> np.ndarray:
    """Every timestamp of every block, flat int64 in block order."""
    return _decode_points(blocks, counts, _ts_step, 2).view(np.int64)


def _pad(points: np.ndarray, counts, fill) -> np.ndarray:
    counts = np.asarray(counts, dtype=np.int64)
    out = np.full((len(counts), counts.max(initial=0)), fill, dtype=points.dtype)
    out[np.arange(out.shape[1]) < counts[:, None]] = points
    return out


def decode_val_blocks(blocks: list[bytes], counts: np.ndarray) -> np.ndarray:
    """(B, max_count) float64 matrix, NaN past each block's count."""
    return _pad(decode_val_points(blocks, counts), counts, np.nan)


def decode_ts_blocks(blocks: list[bytes], counts: np.ndarray) -> np.ndarray:
    """(B, max_count) int64 matrix, 0 past each block's count."""
    return _pad(decode_ts_points(blocks, counts), counts, 0)
