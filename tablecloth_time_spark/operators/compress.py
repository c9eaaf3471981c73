"""Gorilla-style XOR float + delta-of-delta timestamp block compression.

North-star requirement (BASELINE.json): per-conversation turn-rate /
token-count series are stored as compressed binary blocks — Gorilla XOR for
float series, delta-of-delta for the timestamp axis and integer series —
keyed by (conv_id, block_start).

The reference has no compression at all (its datasets live uncompressed in
one JVM); this module is the north-star-only surface listed in SURVEY.md
§2.4. The codec follows the Facebook Gorilla paper's value layout with one
documented deviation: the XOR encoder always writes the (leading, length)
window per entry instead of conditionally reusing the previous entry's
window. Dropping that sequential dependency makes the ENCODER fully
numpy-vectorizable (the per-entry control/meta/payload bit fields are
computed for the whole series at once and packed with a single boolean
gather + ``np.packbits``), which is what "only vectorized pandas/Arrow
UDFs — no per-row Python" demands of a codec that runs inside
``applyInPandas`` on a 10^12-turn table. Cost: ≤13 extra bits per entry vs
the paper; determinism and exact round-trip are unaffected.

Bitstream formats (all integers little-endian in the fixed header, bit
fields MSB-first in the packed payload):

float64 XOR block   : n:int32 | first:float64 bits | nbits:int64 | payload
  entry (per value after the first):
    '0'                                      xor == 0
    '1' + lead:6 + (mbits-1):6 + payload     xor != 0 (mbits = 64-lead-trail)

int64 delta-of-delta block : n:int32 | first:int64 | first_delta:int64
                             | nbits:int64 | payload
  entry (per delta-of-delta, Gorilla timestamp buckets):
    '0'                 dod == 0
    '10'   + 7 bits     dod ∈ [-63, 64]       (stored dod+63)
    '110'  + 9 bits     dod ∈ [-255, 256]     (stored dod+255)
    '1110' + 12 bits    dod ∈ [-2047, 2048]   (stored dod+2047)
    '1111' + 64 bits    otherwise             (stored as two's complement)

Decoding is inherently sequential (entry lengths are data-dependent); the
decoder is a driver/test-side verification tool and a per-block loop inside
``mapInPandas`` — one Python iteration per POINT of one block, never per
Spark row of the plan.
"""

from __future__ import annotations

import datetime as dt
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from tablecloth_time_spark.functions.timeops import down_to_nearest
from tablecloth_time_spark.functions.units import (
    is_calendar_unit,
    milliseconds_in,
    normalize_unit,
)
from tablecloth_time_spark.operators._grouped import stream_group_runs

_U64 = np.uint64
_MASK64 = _U64(0xFFFFFFFFFFFFFFFF)


# ---------------------------------------------------------------------------
# vectorized bit packing
# ---------------------------------------------------------------------------


def _bit_length_u32(x: np.ndarray) -> np.ndarray:
    """Bit length of uint32 values (float64 log2 is exact below 2^53)."""
    out = np.zeros(x.shape, dtype=np.int64)
    nz = x != 0
    out[nz] = np.floor(np.log2(x[nz].astype(np.float64))).astype(np.int64) + 1
    return out


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    hi = (x >> _U64(32)).astype(np.uint32)
    lo = (x & _U64(0xFFFFFFFF)).astype(np.uint32)
    return np.where(hi != 0, 32 + _bit_length_u32(hi), _bit_length_u32(lo))


def _leading_zeros_u64(x: np.ndarray) -> np.ndarray:
    return 64 - _bit_length_u64(x)


def _trailing_zeros_u64(x: np.ndarray) -> np.ndarray:
    low = x & ((~x + _U64(1)) & _MASK64)  # isolate lowest set bit
    return np.where(x == 0, 64, _bit_length_u64(low) - 1)


def _pack_entries(vals: np.ndarray, lens: np.ndarray) -> tuple[bytes, int]:
    """Concatenate variable-length bit fields (MSB-first, ≤64 bits each).

    Pure numpy: a (n, 64) bit matrix is built by broadcast shifts, the valid
    bits are gathered row-major (which IS the concatenated stream order) and
    packed 8-per-byte. Zero-length entries contribute nothing.
    """
    if len(vals) == 0:
        return b"", 0
    vals = vals.astype(_U64)
    lens = lens.astype(np.int64)
    width = int(lens.max()) if len(lens) else 0
    if width == 0:
        return b"", 0
    j = np.arange(width, dtype=np.int64)[None, :]
    shifts = lens[:, None] - 1 - j
    valid = shifts >= 0
    bits = (vals[:, None] >> shifts.clip(0, 63).astype(_U64)) & _U64(1)
    flat = bits[valid].astype(np.uint8)
    return np.packbits(flat, bitorder="big").tobytes(), int(lens.sum())


class _BitReader:
    """Sequential MSB-first bit reader over a packed payload (decode only)."""

    def __init__(self, payload: bytes, nbits: int):
        self.bits = np.unpackbits(
            np.frombuffer(payload, dtype=np.uint8), bitorder="big"
        )[:nbits].astype(np.int64)
        self.pos = 0

    def take(self, k: int) -> int:
        b = self.bits[self.pos : self.pos + k]
        self.pos += k
        v = 0
        for bit in b:
            v = (v << 1) | int(bit)
        return v


# ---------------------------------------------------------------------------
# float64 XOR codec (Gorilla values)
# ---------------------------------------------------------------------------

_F_MAGIC = b"GX"  # Gorilla-XOR
_I_MAGIC = b"DD"  # delta-of-delta
_VERSION = 1


def encode_floats_xor(values: np.ndarray) -> bytes:
    """Encode a float64 series into a Gorilla-XOR binary block."""
    v = np.ascontiguousarray(values, dtype=np.float64)
    n = len(v)
    head = _F_MAGIC + bytes([_VERSION]) + struct.pack("<i", n)
    if n == 0:
        return head + struct.pack("<q", 0)
    bits = v.view(_U64)
    first = bits[0]
    head += struct.pack("<Q", first)
    if n == 1:
        return head + struct.pack("<q", 0)

    xor = bits[1:] ^ bits[:-1]
    lead = np.minimum(_leading_zeros_u64(xor), 63)
    trail = _trailing_zeros_u64(xor)
    mbits = np.where(xor == 0, 0, 64 - lead - trail)

    # per entry: meta field then payload field (two packed entries each)
    meta_val = np.where(
        xor == 0,
        _U64(0),
        (_U64(1) << _U64(12))
        | (lead.astype(_U64) << _U64(6))
        | (mbits - 1).clip(0).astype(_U64),
    )
    meta_len = np.where(xor == 0, 1, 13)
    pay_val = np.where(
        xor == 0, _U64(0), (xor >> trail.clip(0, 63).astype(_U64)) & _MASK64
    )
    pay_len = np.where(xor == 0, 0, mbits)

    vals = np.empty(2 * (n - 1), dtype=_U64)
    lens = np.empty(2 * (n - 1), dtype=np.int64)
    vals[0::2], vals[1::2] = meta_val, pay_val
    lens[0::2], lens[1::2] = meta_len, pay_len
    payload, nbits = _pack_entries(vals, lens)
    return head + struct.pack("<q", nbits) + payload


def decode_floats_xor(buf: bytes) -> np.ndarray:
    assert buf[:2] == _F_MAGIC and buf[2] == _VERSION, "not a GX block"
    (n,) = struct.unpack_from("<i", buf, 3)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    (first,) = struct.unpack_from("<Q", buf, 7)
    out = np.empty(n, dtype=_U64)
    out[0] = first
    if n == 1:
        return out.view(np.float64)
    (nbits,) = struct.unpack_from("<q", buf, 15)
    r = _BitReader(buf[23:], nbits)
    prev = int(first)
    for i in range(1, n):
        if r.take(1) == 0:
            out[i] = prev
            continue
        lead = r.take(6)
        mbits = r.take(6) + 1
        payload = r.take(mbits)
        trail = 64 - lead - mbits
        prev ^= payload << trail
        out[i] = prev
    return out.view(np.float64)


# ---------------------------------------------------------------------------
# batched (multi-block) encoding
#
# The per-block encoders cost ~25 numpy calls per invocation; at millions of
# ~dozen-point (conv, day) blocks the fixed per-call overhead dominates the
# kernel (~200us/block measured). The *_many variants compute the entry
# fields for EVERY block in one vectorized pass, pad each block's bitstream
# to a byte boundary with zero-bits (trailing zeros are invisible to the
# decoder, which reads exactly nbits), pack ONCE, and slice per-block byte
# ranges — producing output BYTE-IDENTICAL to the per-block encoders
# (pinned by tests/test_compress.py).
# ---------------------------------------------------------------------------


def _assemble_blocks(
    heads: list[bytes],
    entry_vals: np.ndarray,
    entry_lens: np.ndarray,
    entry_block: np.ndarray,
    n_blocks: int,
) -> list[bytes]:
    """Pack all blocks' entries in one pass; return per-block payload bytes.

    ``entry_block`` maps each entry to its block id (non-decreasing).
    Returns the final per-block byte strings ``heads[b] + nbits + payload``.
    """
    if len(entry_lens):
        # bincount (not ufunc.at — orders of magnitude faster); float64
        # accumulation is exact below 2^53 total bits
        bits_per_block = np.bincount(
            entry_block, weights=entry_lens, minlength=n_blocks
        ).astype(np.int64)
    else:
        bits_per_block = np.zeros(n_blocks, dtype=np.int64)
    pad = (-bits_per_block) % 8
    # interleave one pad entry (zero bits) after each block's entries
    E = len(entry_vals)
    vals_all = np.zeros(E + n_blocks, dtype=_U64)
    lens_all = np.zeros(E + n_blocks, dtype=np.int64)
    if E:
        dest = np.arange(E, dtype=np.int64) + entry_block
        vals_all[dest] = entry_vals
        lens_all[dest] = entry_lens
    # pad entry for block b sits right after its entries: position =
    # (#entries in blocks <= b) + b
    ends_count = np.cumsum(np.bincount(entry_block, minlength=n_blocks))
    pad_pos = ends_count + np.arange(n_blocks, dtype=np.int64)
    lens_all[pad_pos] = pad
    payload_all, _ = _pack_entries(vals_all, lens_all)

    byte_len = ((bits_per_block + pad) // 8).astype(np.int64)
    byte_off = np.concatenate(([0], np.cumsum(byte_len)[:-1]))
    out = []
    for b in range(n_blocks):
        nbits = int(bits_per_block[b])
        payload = payload_all[byte_off[b] : byte_off[b] + byte_len[b]]
        out.append(heads[b] + struct.pack("<q", nbits) + payload)
    return out


def encode_floats_xor_many(
    v: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """Batched :func:`encode_floats_xor`: encode every ``v[s:e]`` block.

    Byte-identical to calling the per-block encoder per slice.
    """
    v = np.ascontiguousarray(v, dtype=np.float64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    n_blocks = len(starts)
    ns = ends - starts
    bits = v.view(_U64)

    # first-value bits fetched in one numpy pass; the loop touches only
    # python ints (per-block numpy scalar conversion cost ~0.5us/block)
    heads: list[bytes] = []
    fb_all = bits[np.minimum(starts, len(v) - 1)].tolist() if len(v) else []
    ns_list = ns.tolist()
    for b in range(n_blocks):
        n = ns_list[b]
        h = _F_MAGIC + bytes([_VERSION]) + struct.pack("<i", n)
        if n >= 1:
            h += struct.pack("<Q", fb_all[b])
        heads.append(h)

    # entry positions: global indices g with starts[b] < g < ends[b]
    # (xor of v[g] with v[g-1]); one (meta, payload) entry pair each
    pos_list = [np.arange(starts[b] + 1, ends[b]) for b in range(n_blocks)]
    if pos_list:
        pos = np.concatenate(pos_list)
    else:
        pos = np.empty(0, dtype=np.int64)
    blk = np.repeat(np.arange(n_blocks, dtype=np.int64), np.maximum(ns - 1, 0))
    if len(pos):
        xor = bits[pos] ^ bits[pos - 1]
        lead = np.minimum(_leading_zeros_u64(xor), 63)
        trail = _trailing_zeros_u64(xor)
        mbits = np.where(xor == 0, 0, 64 - lead - trail)
        meta_val = np.where(
            xor == 0,
            _U64(0),
            (_U64(1) << _U64(12))
            | (lead.astype(_U64) << _U64(6))
            | (mbits - 1).clip(0).astype(_U64),
        )
        meta_len = np.where(xor == 0, 1, 13)
        pay_val = np.where(
            xor == 0, _U64(0), (xor >> trail.clip(0, 63).astype(_U64)) & _MASK64
        )
        pay_len = np.where(xor == 0, 0, mbits)
        m = len(pos)
        entry_vals = np.empty(2 * m, dtype=_U64)
        entry_lens = np.empty(2 * m, dtype=np.int64)
        entry_vals[0::2], entry_vals[1::2] = meta_val, pay_val
        entry_lens[0::2], entry_lens[1::2] = meta_len, pay_len
        entry_block = np.repeat(blk, 2)
    else:
        entry_vals = np.empty(0, dtype=_U64)
        entry_lens = np.empty(0, dtype=np.int64)
        entry_block = np.empty(0, dtype=np.int64)
    return _assemble_blocks(heads, entry_vals, entry_lens, entry_block, n_blocks)


def encode_ints_dod_many(
    v: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """Batched :func:`encode_ints_dod`: encode every ``v[s:e]`` block.

    Byte-identical to calling the per-block encoder per slice.
    """
    v = np.ascontiguousarray(v, dtype=np.int64)
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    n_blocks = len(starts)
    ns = ends - starts

    # head fields vectorized: one errstate scope + one numpy pass for ALL
    # blocks (the signed .view of the u64 difference IS the mod-2^64 wrap
    # the format specifies; a per-block errstate context cost ~3us/block)
    heads: list[bytes] = []
    if len(v):
        u64 = v.view(_U64)
        safe_s = np.minimum(starts, len(v) - 1)
        safe_s1 = np.minimum(starts + 1, len(v) - 1)
        with np.errstate(over="ignore"):
            d0_all = (u64[safe_s1] - u64[safe_s]).view(np.int64).tolist()
        fv_all = v[safe_s].tolist()
    else:
        d0_all = fv_all = []
    ns_list = ns.tolist()
    for b in range(n_blocks):
        n = ns_list[b]
        h = _I_MAGIC + bytes([_VERSION]) + struct.pack("<i", n)
        if n >= 1:
            h += struct.pack("<q", fv_all[b])
        if n >= 2:
            h += struct.pack("<q", d0_all[b])
        heads.append(h)

    # dod entries: global indices g with starts[b]+2 <= g < ends[b]
    pos_list = [np.arange(starts[b] + 2, ends[b]) for b in range(n_blocks)]
    if pos_list:
        pos = np.concatenate(pos_list)
    else:
        pos = np.empty(0, dtype=np.int64)
    blk = np.repeat(np.arange(n_blocks, dtype=np.int64), np.maximum(ns - 2, 0))
    if len(pos):
        u = v.view(_U64)
        # dod = (v[g] - v[g-1]) - (v[g-1] - v[g-2]) in wrapping int64
        # (mod-2^64 wrap is intentional — see head-delta comment above)
        with np.errstate(over="ignore"):
            dod = (u[pos] - _U64(2) * u[pos - 1] + u[pos - 2]).view(np.int64)
        c0 = dod == 0
        c1 = (dod >= -63) & (dod <= 64)
        c2 = (dod >= -255) & (dod <= 256)
        c3 = (dod >= -2047) & (dod <= 2048)
        meta_val = np.select(
            [c0, c1, c2, c3],
            [_U64(0), _U64(0b10), _U64(0b110), _U64(0b1110)],
            default=_U64(0b1111),
        )
        meta_len = np.select([c0, c1, c2, c3], [1, 2, 3, 4], default=4)
        pay_val = np.select(
            [c0, c1, c2, c3],
            [np.zeros_like(dod), dod + 63, dod + 255, dod + 2047],
            default=dod,
        ).astype(np.int64).view(_U64) & _MASK64
        pay_len = np.select([c0, c1, c2, c3], [0, 7, 9, 12], default=64)
        m = len(pos)
        entry_vals = np.empty(2 * m, dtype=_U64)
        entry_lens = np.empty(2 * m, dtype=np.int64)
        entry_vals[0::2], entry_vals[1::2] = meta_val, pay_val
        entry_lens[0::2], entry_lens[1::2] = meta_len, pay_len
        entry_block = np.repeat(blk, 2)
    else:
        entry_vals = np.empty(0, dtype=_U64)
        entry_lens = np.empty(0, dtype=np.int64)
        entry_block = np.empty(0, dtype=np.int64)
    return _assemble_blocks(heads, entry_vals, entry_lens, entry_block, n_blocks)


# ---------------------------------------------------------------------------
# int64 delta-of-delta codec (Gorilla timestamps; also integer value series)
# ---------------------------------------------------------------------------


def encode_ints_dod(values: np.ndarray) -> bytes:
    """Encode an int64 series (timestamps in ms, counts, ...) as DoD block."""
    v = np.ascontiguousarray(values, dtype=np.int64)
    n = len(v)
    head = _I_MAGIC + bytes([_VERSION]) + struct.pack("<i", n)
    if n == 0:
        return head + struct.pack("<q", 0)
    head += struct.pack("<q", int(v[0]))
    if n == 1:
        return head + struct.pack("<q", 0)
    delta = np.diff(v)
    head += struct.pack("<q", int(delta[0]))
    if n == 2:
        return head + struct.pack("<q", 0)

    dod = np.diff(delta)
    c0 = dod == 0
    c1 = (dod >= -63) & (dod <= 64)
    c2 = (dod >= -255) & (dod <= 256)
    c3 = (dod >= -2047) & (dod <= 2048)

    meta_val = np.select(
        [c0, c1, c2, c3],
        [_U64(0), _U64(0b10), _U64(0b110), _U64(0b1110)],
        default=_U64(0b1111),
    )
    meta_len = np.select([c0, c1, c2, c3], [1, 2, 3, 4], default=4)
    pay_val = np.select(
        [c0, c1, c2, c3],
        [
            np.zeros_like(dod),
            dod + 63,
            dod + 255,
            dod + 2047,
        ],
        default=dod,  # two's complement via uint64 view below
    ).astype(np.int64).view(_U64) & _MASK64
    pay_len = np.select([c0, c1, c2, c3], [0, 7, 9, 12], default=64)

    m = len(dod)
    vals = np.empty(2 * m, dtype=_U64)
    lens = np.empty(2 * m, dtype=np.int64)
    vals[0::2], vals[1::2] = meta_val, pay_val
    lens[0::2], lens[1::2] = meta_len, pay_len
    payload, nbits = _pack_entries(vals, lens)
    return head + struct.pack("<q", nbits) + payload


def decode_ints_dod(buf: bytes) -> np.ndarray:
    assert buf[:2] == _I_MAGIC and buf[2] == _VERSION, "not a DD block"
    (n,) = struct.unpack_from("<i", buf, 3)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    (first,) = struct.unpack_from("<q", buf, 7)
    if n == 1:
        return np.array([first], dtype=np.int64)
    (first_delta,) = struct.unpack_from("<q", buf, 15)
    out = np.empty(n, dtype=np.int64)
    out[0] = first
    second = (first + first_delta) & ((1 << 64) - 1)
    out[1] = second - (1 << 64) if second >= (1 << 63) else second
    if n == 2:
        return out
    (nbits,) = struct.unpack_from("<q", buf, 23)
    r = _BitReader(buf[31:], nbits)

    def wrap(x: int) -> int:
        # two's-complement int64 wrap: the encoder's numpy delta arithmetic
        # wraps mod 2^64, so reconstruction must too; values inside int64
        # range come back exact under modular arithmetic
        x &= (1 << 64) - 1
        return x - (1 << 64) if x >= (1 << 63) else x

    delta = first_delta
    prev = int(out[1])
    for i in range(2, n):
        if r.take(1) == 0:
            dod = 0
        elif r.take(1) == 0:
            dod = r.take(7) - 63
        elif r.take(1) == 0:
            dod = r.take(9) - 255
        elif r.take(1) == 0:
            dod = r.take(12) - 2047
        else:
            raw = r.take(64)
            dod = raw - (1 << 64) if raw >= (1 << 63) else raw
        delta = wrap(delta + dod)
        prev = wrap(prev + delta)
        out[i] = prev
    return out


# ---------------------------------------------------------------------------
# Spark operators
# ---------------------------------------------------------------------------


def _block_schema(value_cols: dict[str, str]) -> StructType:
    fields = [
        StructField("conv_id", StringType()),
        StructField("block_start", TimestampType()),
        StructField("n_points", LongType()),
        StructField("ts_block", BinaryType()),
    ]
    for c in value_cols:
        fields.append(StructField(f"{c}_block", BinaryType()))
    fields += [
        StructField("raw_bytes", LongType()),
        StructField("enc_bytes", LongType()),
        StructField("compression_ratio", DoubleType()),
    ]
    return StructType(fields)


def compress_series(
    df: DataFrame,
    ts_col: str,
    value_cols: dict[str, str],
    key_col: str = "conv_id",
    block_interval: int = 1,
    block_unit: str = "day",
    order_cols: list[str] | None = None,
    skew_split: bool = True,
) -> DataFrame:
    """Compress per-key series into binary blocks, one row per (key, block).

    ``value_cols`` maps column name -> codec ('float' = Gorilla XOR on
    float64, 'int' = delta-of-delta on int64). The timestamp axis is always
    delta-of-delta over epoch-millis. Grouping (key, block_start) bounds
    per-task state: a mega-thread spanning months splits into per-day blocks
    that land on different tasks, so no executor ever materializes a whole
    mega-conversation — the skew story at 10^12 turns.

    ``skew_split`` is that salted repartition: the encode shuffle keys on
    (key, block) — blocks are independent units, so this is the two-phase
    split for the kernel path, where map-side combine can't help. False
    shuffles on the key alone (one task holds a whole conversation — the
    naive layout); it exists only to quantify the skew benefit
    (BENCH/SKEW.md) and must not be used at scale.
    """
    order_cols = list(order_cols or [ts_col])
    schema = _block_schema(value_cols)
    n_sort = len(order_cols)

    n_values = len(value_cols)

    def encode_groups(pdf: pd.DataFrame) -> pd.DataFrame:
        # group boundaries on raw numpy (rows arrive grouped+ordered from
        # the shuffle sort): ~10x cheaper than pandas groupby's per-group
        # DataFrame construction, which dominates at millions of small blocks
        keys = pdf["__key"].to_numpy()
        blocks = pdf["__block"].to_numpy()
        ts = pdf["__ts_ms"].to_numpy().astype(np.int64)
        series = {
            c: pdf[c].to_numpy(
                dtype=np.float64 if codec == "float" else np.int64
            )
            for c, codec in value_cols.items()
        }
        n = len(pdf)
        change = np.empty(n, dtype=bool)
        change[0] = True
        change[1:] = (keys[1:] != keys[:-1]) | (blocks[1:] != blocks[:-1])
        starts = np.flatnonzero(change)
        ends = np.append(starts[1:], n)

        # batched encoders: one vectorized pass over ALL blocks per series
        # (per-block numpy calls cost ~200us each at dozen-point blocks)
        ts_blocks = encode_ints_dod_many(ts, starts, ends)
        col_blocks = {
            c: (
                encode_floats_xor_many(series[c], starts, ends)
                if codec == "float"
                else encode_ints_dod_many(series[c], starts, ends)
            )
            for c, codec in value_cols.items()
        }
        enc = np.array([len(b) for b in ts_blocks], dtype=np.int64)
        for blks in col_blocks.values():
            enc += np.array([len(b) for b in blks], dtype=np.int64)
        raw = 8 * (ends - starts) * (1 + n_values)
        out: dict[str, list] = {
            "conv_id": keys[starts].tolist(),
            "block_start": list(pd.to_datetime(blocks[starts])),
            "n_points": (ends - starts).tolist(),
            "ts_block": ts_blocks,
            **{f"{c}_block": blks for c, blks in col_blocks.items()},
            "raw_bytes": raw.tolist(),
            "enc_bytes": enc.tolist(),
            "compression_ratio": np.where(enc > 0, raw / enc, 1.0).tolist(),
        }
        return pd.DataFrame(out)

    def encode_stream(batches):
        # groups arrive contiguous and ordered (repartition + sortWithin
        # Partitions below); each run of complete groups is one slab
        return stream_group_runs(batches, ["__key", "__block"], encode_groups)

    prepared = df.select(
        F.col(key_col).cast("string").alias("__key"),
        down_to_nearest(ts_col, block_interval, block_unit)
        .cast("timestamp")
        .alias("__block"),
        F.unix_millis(F.col(ts_col).cast("timestamp")).alias("__ts_ms"),
        *[F.col(c).alias(f"__o{i}") for i, c in enumerate(order_cols)],
        *[F.col(c) for c in value_cols],
    )
    # ONE shuffle co-locates each (key, block) group; the in-partition sort
    # fixes both group contiguity and the intra-series (order_cols) order,
    # so the kernel streams whole Arrow batches instead of paying the
    # per-group applyInPandas round-trip (matters at millions of small
    # blocks: ~20x fewer Python crossings). No partition count: each
    # Python task costs ~0.28 s of worker start-up (operators/_grouped.py),
    # so AQE coalesces adjacent partitions into as few tasks as the data
    # needs; a group never straddles two partitions either way
    shuffle_cols = ["__key", "__block"] if skew_split else ["__key"]
    part = prepared.repartition(*shuffle_cols).sortWithinPartitions(
        "__key", "__block", *[f"__o{i}" for i in range(n_sort)]
    )
    return part.mapInPandas(encode_stream, schema)


def block_stats(blocks: DataFrame) -> dict:
    """Totals of a blocks table: ``n_blocks``, ``raw_bytes``, ``enc_bytes``
    and their ``compression_ratio``. Read them from blocks already
    written, so the encode kernel runs once."""
    s = blocks.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("raw_bytes").alias("raw"),
        F.sum("enc_bytes").alias("enc"),
    ).collect()[0]
    raw, enc = int(s["raw"] or 0), int(s["enc"] or 0)
    return {
        "n_blocks": int(s["n"]),
        "raw_bytes": raw,
        "enc_bytes": enc,
        "compression_ratio": round(raw / enc, 3) if enc else None,
    }


def decompress_blocks(
    blocks: DataFrame,
    value_cols: dict[str, str],
) -> DataFrame:
    """Inverse of :func:`compress_series` — blocks back to one row per point."""
    fields = [
        StructField("conv_id", StringType()),
        StructField("ts", TimestampType()),
    ] + [
        StructField(c, DoubleType() if codec == "float" else LongType())
        for c, codec in value_cols.items()
    ]
    schema = StructType(fields)

    def expand(batches):
        # per-BLOCK Python loop (each block decodes separately by design);
        # column-wise zip instead of iterrows, one concat per Arrow batch
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ts_parts = [decode_ints_dod(bytes(b)) for b in pdf["ts_block"]]
            lens = [len(t) for t in ts_parts]
            out = {
                "conv_id": np.repeat(pdf["conv_id"].to_numpy(), lens),
                "ts": pd.to_datetime(np.concatenate(ts_parts), unit="ms"),
            }
            for c, codec in value_cols.items():
                dec = decode_floats_xor if codec == "float" else decode_ints_dod
                out[c] = np.concatenate(
                    [dec(bytes(b)) for b in pdf[f"{c}_block"]]
                )
            yield pd.DataFrame(out)

    cols = ["conv_id", "ts_block"] + [f"{c}_block" for c in value_cols]
    return blocks.select(*cols).mapInPandas(expand, schema)


def read_blocks_slice(
    blocks: DataFrame,
    value_cols: dict[str, str],
    from_key,
    to_key,
    block_interval: int = 1,
    block_unit: str = "day",
) -> DataFrame:
    """Serve a time slice FROM the compressed tier: prune whole blocks by
    their [block_start, block_start + block length) extent, decode only
    the survivors, then apply the exact inclusive [from, to] predicate
    per point — the reference's slice semantics (slice_time) over the
    Gorilla/DoD representation.

    The block filter is a plain range predicate on ``block_start``, so
    when block tables are written sorted/partitioned by block_start (the
    tier layout run_pipeline.py uses for tiers) parquet min-max stats
    skip non-overlapping files BEFORE any decode — a narrow slice of a
    10^12-point compressed store decodes only the touched
    conversation-days, never the archive.

    Calendar block units (month/quarter/year) prune with a conservative
    fixed upper bound on the extent (31/92/366 days) — the exact
    per-point predicate makes the over-approximation harmless.
    """
    from tablecloth_time_spark.operators.slice import _key_sort_value, parse_key

    # same key normalization as slice_time: dates -> midnight, tz-aware
    # datetimes -> naive UTC wall clock
    lo = _key_sort_value(parse_key(from_key))
    hi = _key_sort_value(parse_key(to_key))
    if lo > hi:
        raise ValueError(f"slice bounds reversed: {from_key!r} > {to_key!r}")
    u = normalize_unit(block_unit)
    if is_calendar_unit(u):
        days = {"month": 31, "quarter": 92, "year": 366}[u]
        block_ms = block_interval * days * 86_400_000
    else:
        block_ms = block_interval * milliseconds_in(u)
    # block extent [start, start + block_ms) intersects [lo, hi] — pure
    # wall-clock timestamp comparisons, so the prune and the per-point
    # predicate agree regardless of the session time zone
    pruned = blocks.filter(
        (F.col("block_start") <= F.lit(hi))
        & (F.col("block_start") > F.lit(lo - dt.timedelta(milliseconds=block_ms)))
    )
    points = decompress_blocks(pruned, value_cols)
    return points.filter(
        (F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi))
    )
