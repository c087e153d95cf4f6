"""Posting-block codec: delta + varint/FOR compression with block-max metadata.

The reference delegates posting compression to shaded Lucene 7.7.2 (delta-encoded
doc IDs + term frequencies in compressed blocks). We re-derive the same layout
natively: fixed-size blocks of (doc_id delta, tf) pairs, each block carrying
(first_doc, last_doc, n, max_tf, min_dl, max_tfnorm) so the query side can do
block-max pruning (Ding & Suel, SIGIR'11) before decoding. Doc lengths (BM25
norms) are not in the blocks: like Lucene's per-document norms file they are
stored once per doc, as the docmap's ``doc_len`` column.

Two value codecs, self-describing via a 1-byte payload tag:

* varint — LEB128, byte-aligned (tag 0)
* FOR — fixed-width bit packing (tag 1): every value of a block is packed
  at the bit width of the block's largest value, with no reference value
  subtracted and no exception patching (the PForDelta family's base case,
  Zukowski et al., ICDE'06). Blocks are 128 postings, short enough that one
  outlier widening the whole block costs less than patch bookkeeping.
  Measured on this sandbox: 2.5-4x faster decode than varint and ~2.5x
  smaller tf streams — FOR is the default (IndexConfig.posting_codec).

All kernels are numpy-vectorized — inner loops are over byte/bit position,
never over values.
"""

from __future__ import annotations

import numpy as np


_ALLOCATOR_TUNED = False


def tune_allocator() -> None:
    """Keep large numpy buffers on the main heap instead of per-allocation
    mmap/munmap. Under a user-space-kernel sandbox (gVisor-style), first
    touching a freshly mmapped page costs ~100x a normal fault, and glibc's
    default behavior (mmap big blocks, return them to the OS on free) makes
    every kernel task re-fault its working set: measured 2.5x on the build
    kernel's allocation pattern. Raising M_MMAP_THRESHOLD / M_TRIM_THRESHOLD
    trades bounded worker RSS for warm pages. No-op where libc is absent.

    Called from the WORKER-SIDE kernels (build / score / compact / validate)
    only — never at import time, so a driver that merely loads this module
    (load_index, run_queries planning) keeps glibc defaults and its
    documented 1g default heap stays lean. Idempotent: one mallopt per
    process."""
    global _ALLOCATOR_TUNED
    if _ALLOCATOR_TUNED:
        return
    _ALLOCATOR_TUNED = True
    try:
        import ctypes
        libc = ctypes.CDLL("libc.so.6")
        libc.mallopt(-3, 1 << 30)  # M_MMAP_THRESHOLD
        libc.mallopt(-1, 1 << 30)  # M_TRIM_THRESHOLD
    except Exception:  # noqa: BLE001 — allocator tuning is best-effort
        pass

_U64 = np.uint64
_SEVEN = _U64(7)
_LOW7 = _U64(0x7F)


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128 varint-encode an array of non-negative ints (vectorized)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b""
    nbytes = np.ones(n, dtype=np.int64)
    tmp = v >> _SEVEN
    while tmp.any():
        nbytes += (tmp > 0)
        tmp = tmp >> _SEVEN
    total = int(nbytes.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(nbytes[:-1], out=starts[1:])
    cur = v.copy()
    for i in range(int(nbytes.max())):
        sel = nbytes > i
        byte = (cur[sel] & _LOW7).astype(np.uint8)
        more = (nbytes[sel] > i + 1).astype(np.uint8)
        out[starts[sel] + i] = byte | (more << 7)
        cur[sel] = cur[sel] >> _SEVEN
    return out.tobytes()


def varint_decode(buf: bytes | np.ndarray) -> np.ndarray:
    """Decode a LEB128 varint byte stream back to uint64 (vectorized)."""
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(buf, (bytes, bytearray, memoryview)) else buf
    if len(b) == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)
    n = len(ends)
    starts = np.empty(n, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lengths = ends - starts + 1
    vals = np.zeros(n, dtype=np.uint64)
    for i in range(int(lengths.max())):
        sel = lengths > i
        vals[sel] |= (b[starts[sel] + i] & 0x7F).astype(np.uint64) << _U64(7 * i)
    return vals


def for_encode(values: np.ndarray) -> bytes:
    """FOR bit-packing: header (nbits:1B, count:2B LE) + packed bits.
    Vectorized: one shift-matrix + packbits, no per-value loop."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    n = len(v)
    if n == 0:
        return b"\x01\x00\x00"
    nbits = max(int(v.max()).bit_length(), 1)
    bits = ((v[:, None] >> np.arange(nbits, dtype=np.uint64))
            & np.uint64(1)).astype(np.uint8)
    return bytes([nbits]) + n.to_bytes(2, "little") \
        + np.packbits(bits.ravel()).tobytes()


def for_decode(buf: bytes | np.ndarray) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8) if isinstance(
        buf, (bytes, bytearray, memoryview)) else buf
    nbits = int(b[0])
    n = int(b[1]) | (int(b[2]) << 8)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    bits = np.unpackbits(b[3:], count=n * nbits)
    m = bits.reshape(n, nbits).astype(np.uint64)
    return (m << np.arange(nbits, dtype=np.uint64)).sum(axis=1)


# payload tag (first byte) → codec; payloads are self-describing so an index
# written with either codec reads back with the same decode_block.
# Tag 2 = FOR with a 4-byte count: position streams hold up to
# block_size × tf values, which can exceed the 2-byte count of tag 1.
_TAG_VARINT, _TAG_FOR, _TAG_FOR32 = 0, 1, 2


def encode_values(values: np.ndarray, codec: str = "for") -> bytes:
    """Tagged value encoding. count > 65535 falls back to varint (the FOR
    header's count field is 2 bytes; block_size never approaches this)."""
    if codec == "for" and len(values) <= 0xFFFF:
        return bytes([_TAG_FOR]) + for_encode(values)
    return bytes([_TAG_VARINT]) + varint_encode(values)


def decode_values(buf: bytes) -> np.ndarray:
    if buf[0] == _TAG_FOR:
        return for_decode(memoryview(buf)[1:])
    if buf[0] == _TAG_FOR32:
        b = np.frombuffer(memoryview(buf)[1:], dtype=np.uint8)
        nbits = int(b[0])
        n = int.from_bytes(bytes(b[1:5]), "little")
        if n == 0:
            return np.empty(0, dtype=np.uint64)
        if nbits < 1 or nbits > 64 or (n * nbits + 7) // 8 > len(b) - 5:
            # corrupt header (e.g. a flipped tag byte): fail loudly instead
            # of allocating a bogus-count buffer
            raise ValueError("corrupt FOR32 payload header")
        bits = np.unpackbits(b[5:], count=n * nbits)
        m = bits.reshape(n, nbits).astype(np.uint64)
        return (m << np.arange(nbits, dtype=np.uint64)).sum(axis=1)
    return varint_decode(memoryview(buf)[1:])


def encode_positions(pos: np.ndarray, tfs: np.ndarray) -> bytes:
    """Position stream of one block: the concatenation, posting by posting,
    of each posting's ascending in-doc term positions (len == Σtf). Deltas
    reset per posting (first value absolute), FOR-packed under tag 2
    (4-byte count). Positions are doc-relative, so they survive doc-id
    rebasing (tree merge, merge-indexes) untouched."""
    pos = np.ascontiguousarray(pos, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    if len(pos) == 0:
        return b"\x02\x01\x00\x00\x00\x00"
    d = np.diff(pos, prepend=np.int64(0))
    starts = np.cumsum(tfs) - tfs
    d[starts] = pos[starts]
    v = d.astype(np.uint64)
    nbits = max(int(v.max()).bit_length(), 1)
    bits = ((v[:, None] >> np.arange(nbits, dtype=np.uint64))
            & np.uint64(1)).astype(np.uint8)
    return (bytes([_TAG_FOR32, nbits]) + len(v).to_bytes(4, "little")
            + np.packbits(bits.ravel()).tobytes())


def decode_positions(buf: bytes, tfs: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_positions → (flat positions, per-posting start
    offsets). Posting i's positions are flat[offs[i]:offs[i]+tfs[i]]."""
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    starts = np.cumsum(tfs) - tfs
    d = decode_values(buf).astype(np.int64)
    if len(d) == 0:
        return d, starts
    # per-posting cumulative sums: global cumsum minus the running base
    # carried across posting boundaries
    cs = np.cumsum(d)
    base = np.zeros(len(d), dtype=np.int64)
    base[starts[1:]] = cs[starts[1:] - 1]
    np.maximum.accumulate(base, out=base)
    return cs - base, starts


def encode_doc_deltas(doc_ids: np.ndarray, codec: str = "for") -> bytes:
    """Delta-encode a strictly-ascending doc-id array (first delta is 0,
    base doc id lives in block metadata as ``first_doc``)."""
    d = np.asarray(doc_ids, dtype=np.int64)
    deltas = np.diff(d, prepend=d[0] if len(d) else 0)
    return encode_values(deltas, codec)


def decode_doc_deltas(buf: bytes, first_doc: int) -> np.ndarray:
    deltas = decode_values(buf).astype(np.int64)
    if len(deltas) == 0:
        return deltas
    deltas[0] = first_doc
    return np.cumsum(deltas)


def bm25_tfnorm(tf: np.ndarray, doc_len: np.ndarray, avgdl: float,
                k1: float = 1.2, b: float = 0.75) -> np.ndarray:
    """Length-normalized term-frequency factor of Lucene BM25Similarity:
    tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl)).  idf multiplies at query time."""
    tf = tf.astype(np.float64)
    dl = doc_len.astype(np.float64)
    return tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / avgdl))


def encode_blocks(doc_ids: np.ndarray, tfs: np.ndarray, doc_lens: np.ndarray,
                  avgdl: float, block_size: int = 128,
                  k1: float = 1.2, b: float = 0.75,
                  codec: str = "for") -> list[dict]:
    """Split one term's sorted postings into fixed-size compressed blocks.

    Returns a list of dict rows:
      first_doc, last_doc, n, doc_bytes, tf_bytes, max_tf, sum_tf, min_dl,
      max_tfnorm
    Block-max soundness: max_tfnorm >= tfnorm of every posting in the block,
    so idf*max_tfnorm is an upper bound on any BM25 contribution in the block.

    `doc_lens` (one per posting) feed only the block metadata. The lengths
    themselves are not stored per posting: the docmap keeps each doc's
    `doc_len` once, and readers fetch one shard's lengths beside its blocks
    (README "Storage access") — repeating them in every posting list made
    the length stream the largest column of a served index.
    """
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    doc_lens = np.asarray(doc_lens, dtype=np.int64)
    out: list[dict] = []
    for s in range(0, len(doc_ids), block_size):
        e = min(s + block_size, len(doc_ids))
        d, t, dl = doc_ids[s:e], tfs[s:e], doc_lens[s:e]
        tfnorm = bm25_tfnorm(t, dl, avgdl, k1, b)
        out.append({
            "first_doc": int(d[0]),
            "last_doc": int(d[-1]),
            "n": int(e - s),
            "doc_bytes": encode_doc_deltas(d, codec),
            "tf_bytes": encode_values(t, codec),
            "max_tf": int(t.max()),
            # sum_tf/min_dl let df/cf derive from block METADATA alone
            # (term_stats without re-exploding tokens) and give an
            # avgdl-independent score bound tfnorm(max_tf, min_dl).
            "sum_tf": int(t.sum()),
            "min_dl": int(dl.min()),
            "max_tfnorm": float(tfnorm.max()),
        })
    return out


def decode_block(doc_bytes: bytes, tf_bytes: bytes,
                 first_doc: int) -> tuple[np.ndarray, np.ndarray]:
    """Inverse of encode_blocks for one block → (doc_ids, tfs).
    Payloads are self-describing (codec tag byte), so blocks written with
    either codec — even mixed within one index — decode uniformly."""
    docs = decode_doc_deltas(doc_bytes, first_doc)
    tfs = decode_values(tf_bytes).astype(np.int64)
    return docs, tfs
