"""Vectorized level-0 posting-build kernel (the engine's hot path).

The generic kernel in build.py tokenizes with per-doc ``re.findall`` (one
Python string object per token), factorizes object arrays, and calls
``encode_blocks`` once per term (~20k tiny numpy calls per micro-shard).
At 42 tokens/turn that allocates tens of millions of Python objects per
task — allocator and memory-bandwidth churn that both costs absolute time
and anti-scales on shared memory controllers (round-2 measurement: level-0
build scaled at 0.43 of 2→8 cores while the pure-JVM docmap phase hit 0.85
in the same run).

This module re-derives the same postings with zero per-token Python objects:

  1. tokenize at the BYTE level: lowercase+utf-8 encode each doc (two C
     calls per doc), join with a separator byte, and find [a-z0-9]+ runs as
     boolean-mask transitions in one numpy pass — exactly the semantics of
     the configured ``[a-z0-9]+`` pattern, because multi-byte UTF-8 units
     have the high bit set and can never fall inside the ASCII class;
  2. factorize WITHOUT strings: pad token byte-spans into an (n_tokens ×
     maxlen) uint8 matrix, view rows as fixed-width void scalars, and
     ``np.unique(return_inverse)`` — only the ~vocab-sized unique terms are
     ever materialized as Python strings;
  3. run-length postings exactly as the generic kernel (lexsort by term
     code then doc);
  4. encode ALL blocks of all terms at once (``encode_blocks_bulk``):
     per-block reductions via ``*.reduceat``, FOR bit-packing grouped by
     bit width with one scatter + ``np.packbits`` per width group. The byte
     layout is bit-identical to codec.for_encode, so indexes written by
     either kernel are interchangeable and decode_block needs no changes.

Used automatically by build.py's _index_shard_mapper when the config allows
(posting_codec='for' and the default ASCII token pattern); any other config
falls back to the generic kernel. Reference analog: this is the inner loop
of one reducer's EmbeddedSolrServer (SolrRecordWriter.java:258-284) — the
reference delegates it to Lucene's C-tuned indexing chain, we delegate it
to numpy.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..config import IndexConfig
from .codec import bm25_tfnorm

_TAG_FOR = 1

# byte-class lookup for the default token pattern [a-z0-9]+ over lowercased
# utf-8 text: True for bytes that are inside a token
_ALNUM = np.zeros(256, dtype=bool)
_ALNUM[ord("a"):ord("z") + 1] = True
_ALNUM[ord("0"):ord("9") + 1] = True

# tokens longer than this are factorized via pandas (object path) instead of
# the padded matrix, bounding matrix memory at n_tokens * _MAXPAD bytes even
# if the corpus contains megabyte-long alnum runs
_MAXPAD = 64


def supports_fast_path(cfg: IndexConfig) -> bool:
    return cfg.posting_codec == "for" and cfg.token_pattern == "[a-z0-9]+"


def _bit_lengths(v: np.ndarray) -> np.ndarray:
    """Per-element bit_length (>=1) — vectorized, exact for the full int64
    range (no float log rounding)."""
    out = np.zeros(len(v), dtype=np.int64)
    tmp = np.ascontiguousarray(v, dtype=np.uint64).copy()
    while tmp.any():
        out += tmp > 0
        tmp >>= np.uint64(1)
    return np.maximum(out, 1)


def _pack_for_groups(vals: np.ndarray, starts: np.ndarray,
                     lens: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """FOR-encode every block at once.

    vals: all posting values (one stream: deltas, tfs or positions), blocks are
    vals[starts[i] : starts[i]+lens[i]]. Returns (payload, offsets, nbits):
    payload is one byte buffer holding each block's packed bits at
    payload[offsets[i] : offsets[i+1]] — the exact bytes for_encode's
    ``np.packbits(bits.ravel())`` would produce for that block.
    """
    vals = np.ascontiguousarray(vals, dtype=np.uint64)
    nb = len(starts)
    bmax = np.maximum.reduceat(vals, starts) if len(vals) else np.empty(0, np.uint64)
    nbits = _bit_lengths(bmax)
    nbytes = (lens * nbits + 7) // 8
    offsets = np.zeros(nb + 1, dtype=np.int64)
    np.cumsum(nbytes, out=offsets[1:])
    total_bits = int(offsets[-1]) * 8
    bitarr = np.zeros(total_bits, dtype=np.uint8)
    # bit base of each VALUE: its block's byte-aligned base + in-block offset
    vblock_base = np.repeat(offsets[:-1] * 8, lens)
    in_block = np.arange(len(vals), dtype=np.int64) - np.repeat(starts, lens)
    vbits = np.repeat(nbits, lens)
    vbase = vblock_base + in_block * vbits
    # scatter per distinct width, one bit plane at a time: scratch stays a
    # few arrays of one value each, never a (values × width) matrix.
    # for_encode emits each value LSB-first, then packbits reads the stream
    # MSB-first per byte — reproduced here exactly by bit POSITION.
    for w in np.unique(nbits):
        sel = np.flatnonzero(vbits == w)
        v, base = vals[sel], vbase[sel]
        for k in range(int(w)):
            bitarr[base + k] = (v >> np.uint64(k)) & np.uint64(1)
    # packbits is MSB-first within each byte, matching for_encode's ravel
    payload = np.packbits(bitarr.reshape(-1, 8), axis=1, bitorder="big")
    return payload.ravel(), offsets, nbits


def _unpack_for_groups(buf: np.ndarray, bit_starts: np.ndarray,
                       nbits: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Inverse of _pack_for_groups: the values of every block, concatenated
    in block order. Block i holds lens[i] values of nbits[i] bits each from
    bit bit_starts[i] of `buf` (each value LSB-first in a stream that
    np.packbits wrote MSB-first per byte). Values are gathered per
    distinct width one bit plane at a time, so scratch memory stays a few
    arrays of one value each, never a (values × width) matrix."""
    bits = np.unpackbits(buf)
    n = int(lens.sum())
    first = np.cumsum(lens) - lens
    vbits = np.repeat(nbits, lens)
    vbase = (np.repeat(bit_starts, lens)
             + (np.arange(n, dtype=np.int64) - np.repeat(first, lens)) * vbits)
    out = np.zeros(n, dtype=np.uint64)
    for w in np.unique(nbits):
        sel = np.flatnonzero(vbits == w)
        base, v = vbase[sel], np.zeros(len(sel), dtype=np.uint64)
        for k in range(int(w)):
            v |= bits[base + k].astype(np.uint64) << np.uint64(k)
        out[sel] = v
    return out


def decode_payloads_bulk(payloads) -> tuple[np.ndarray, np.ndarray]:
    """(values, counts) of many tagged payloads: every payload's values
    concatenated in order (uint64) and each payload's value count. FOR
    (tag 1, 2-byte count) and FOR32 (tag 2, 4-byte count) payloads decode
    in one pass grouped by bit width. If any payload is varint-tagged
    (tag 0), each payload goes through codec.decode_values instead."""
    payloads = list(payloads)
    plen = np.fromiter(map(len, payloads), np.int64, len(payloads))
    buf = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    start = np.cumsum(plen) - plen
    tag = buf[start]
    if (tag == 0).any():
        from .codec import decode_values
        parts = [decode_values(p) for p in payloads]
        return (np.concatenate(parts),
                np.fromiter(map(len, parts), np.int64, len(parts)))
    wide = tag == 2
    # count bytes; a short FOR payload at the buffer's end clips the two
    # bytes only FOR32 reads
    h = buf[np.minimum(start[:, None] + np.arange(2, 6), len(buf) - 1)
            ].astype(np.int64)
    count = h[:, 0] | (h[:, 1] << 8) | np.where(
        wide, (h[:, 2] << 16) | (h[:, 3] << 24), 0)
    return (_unpack_for_groups(buf, (start + np.where(wide, 6, 4)) * 8,
                               buf[start + 1].astype(np.int64), count),
            count)


def encode_blocks_bulk(doc_ids: np.ndarray, tfs: np.ndarray,
                       doc_lens: np.ndarray, term_codes: np.ndarray,
                       avgdl: float, block_size: int, k1: float,
                       b: float, pos_sorted: np.ndarray | None = None,
                       pstarts: np.ndarray | None = None
                       ) -> dict[str, np.ndarray]:
    """All blocks of all terms in one pass. Inputs are postings sorted by
    (term_code, doc_id). Returns columnar arrays: block_term (code),
    first_doc, last_doc, n, max_tf, sum_tf, min_dl, max_tfnorm, and the doc
    and tf payload (buffer, offsets, nbits) triples; byte layout identical
    to codec.encode_blocks with codec='for'. `doc_lens` feed min_dl and
    max_tfnorm only — they are not stored per posting.

    With positions enabled, `pos_sorted` holds the in-doc position of every
    TOKEN in the same (term, doc, appearance) order the postings were run-
    length-derived from, and `pstarts` maps posting i → its first token —
    the per-block position stream is then packed with the same grouped-FOR
    machinery (tag-2 layout of codec.encode_positions)."""
    n = len(doc_ids)
    if n == 0:
        return {"n_blocks": 0}
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tfs = np.ascontiguousarray(tfs, dtype=np.int64)
    doc_lens = np.ascontiguousarray(doc_lens, dtype=np.int64)
    # term-run starts
    tnew = np.empty(n, dtype=bool)
    tnew[0] = True
    tnew[1:] = term_codes[1:] != term_codes[:-1]
    trun_start = np.flatnonzero(tnew)
    # in-term posting index; block starts where it hits a block boundary
    pidx = np.arange(n, dtype=np.int64) - np.repeat(
        trun_start, np.diff(np.append(trun_start, n)))
    bstart_mask = (pidx % block_size) == 0
    starts = np.flatnonzero(bstart_mask)
    ends = np.append(starts[1:], n)
    lens = ends - starts

    tfnorm = bm25_tfnorm(tfs, doc_lens, avgdl, k1, b)
    deltas = np.diff(doc_ids, prepend=np.int64(0))
    deltas[starts] = 0  # first delta of each block is 0 (base in first_doc)

    d_pay, d_off, d_nb = _pack_for_groups(deltas, starts, lens)
    t_pay, t_off, t_nb = _pack_for_groups(tfs, starts, lens)
    pos_payload = None
    if pos_sorted is not None:
        pstarts_ext = np.append(pstarts, len(pos_sorted))
        tok_starts = pstarts_ext[starts]
        tok_lens = pstarts_ext[ends] - tok_starts
        pdeltas = np.diff(pos_sorted, prepend=np.int64(0))
        pdeltas[pstarts] = pos_sorted[pstarts]  # absolute at posting starts
        pos_payload = _pack_for_groups(pdeltas, tok_starts, tok_lens) \
            + (tok_lens,)
    return {
        "n_blocks": len(starts),
        "term_code": term_codes[starts],
        "first_doc": doc_ids[starts],
        "last_doc": doc_ids[ends - 1],
        "n": lens.astype(np.int32),
        "max_tf": np.maximum.reduceat(tfs, starts).astype(np.int32),
        "sum_tf": np.add.reduceat(tfs, starts),
        "min_dl": np.minimum.reduceat(doc_lens, starts).astype(np.int32),
        "max_tfnorm": np.maximum.reduceat(tfnorm, starts),
        "payloads": [(d_pay, d_off, d_nb), (t_pay, t_off, t_nb)],
        "pos_payload": pos_payload,
        "block_lens": lens,
    }


def _assemble_payload_bytes(pay: np.ndarray, off: np.ndarray,
                            nbits: np.ndarray, lens: np.ndarray) -> list[bytes]:
    """Per-block tagged byte strings: tag(1) + nbits(1) + count(2 LE) + bits
    — identical to codec.encode_values(..., codec='for')."""
    buf = pay.tobytes()
    return [b"\x01" + bytes([int(nbits[i])])
            + int(lens[i]).to_bytes(2, "little")
            + buf[off[i]:off[i + 1]]
            for i in range(len(nbits))]


def _assemble_pos_bytes(pay: np.ndarray, off: np.ndarray, nbits: np.ndarray,
                        tok_lens: np.ndarray) -> list[bytes]:
    """Tag-2 (FOR32) per-block position payloads — identical layout to
    codec.encode_positions (4-byte count: Σtf can exceed 65535)."""
    buf = pay.tobytes()
    return [b"\x02" + bytes([int(nbits[i])])
            + int(tok_lens[i]).to_bytes(4, "little")
            + buf[off[i]:off[i + 1]]
            for i in range(len(nbits))]


def tokenize_shard_bytes(texts, cfg: IndexConfig
                         ) -> tuple[np.ndarray, np.ndarray, np.ndarray, list]:
    """Byte-level tokenization of a whole micro-shard.

    Returns (tok_doc, codes, doc_token_counts, terms): the doc ordinal and
    vocab code of every kept token, per-doc kept-token counts, and the
    vocab as Python strings (sorted byte-lexicographically)."""
    n_docs = len(texts)
    parts = [t.lower().encode("utf-8") if t is not None else b""
             for t in texts]
    lens = np.fromiter((len(p) for p in parts), np.int64, n_docs)
    buf = b"\n".join(parts)
    arr = np.frombuffer(buf, dtype=np.uint8)
    mask = _ALNUM[arr]
    dm = np.diff(mask.astype(np.int8), prepend=np.int8(0), append=np.int8(0))
    starts = np.flatnonzero(dm == 1)
    ends = np.flatnonzero(dm == -1)
    if not len(starts):
        return (np.empty(0, np.int64), np.empty(0, np.int64),
                np.zeros(n_docs, np.int64), [])
    # doc ordinal per token from doc byte offsets (separator adds 1)
    doc_starts = np.zeros(n_docs, dtype=np.int64)
    np.cumsum(lens[:-1] + 1, out=doc_starts[1:])
    tok_doc = np.searchsorted(doc_starts, starts, side="right") - 1
    tok_len = ends - starts
    if cfg.min_token_len > 1:
        keep = tok_len >= cfg.min_token_len
        starts, ends, tok_doc, tok_len = (starts[keep], ends[keep],
                                          tok_doc[keep], tok_len[keep])
        if not len(starts):
            return (np.empty(0, np.int64), np.empty(0, np.int64),
                    np.zeros(n_docs, np.int64), [])
    # factorize: pad spans into a fixed-width matrix, unique void rows.
    maxlen = int(tok_len.max())
    if maxlen <= _MAXPAD:
        codes, terms = _factorize_spans(arr, starts, tok_len, maxlen)
    else:
        short = tok_len <= _MAXPAD
        codes = np.empty(len(starts), dtype=np.int64)
        terms_s: list[str] = []
        if short.any():
            cs, terms_s = _factorize_spans(arr, starts[short], tok_len[short],
                                           int(tok_len[short].max()))
        else:
            cs = np.empty(0, np.int64)
        # rare giant tokens: object path (bounded by their count)
        long_idx = np.flatnonzero(~short)
        long_toks = [buf[starts[i]:ends[i]].decode() for i in long_idx]
        cl, terms_l = pd.factorize(np.asarray(long_toks, dtype=object))
        # merge vocabularies into one sorted namespace
        terms = sorted(set(terms_s) | set(terms_l))
        remap = {t: i for i, t in enumerate(terms)}
        rs = np.asarray([remap[t] for t in terms_s], dtype=np.int64)
        rl = np.asarray([remap[t] for t in terms_l], dtype=np.int64)
        codes[short] = rs[cs] if len(cs) else cs
        codes[long_idx] = rl[cl] if len(cl) else cl
        terms = list(terms)
    if cfg.stopwords:
        stop_codes = {i for i, t in enumerate(terms) if t in set(cfg.stopwords)}
        if stop_codes:
            keep = ~np.isin(codes, np.fromiter(stop_codes, np.int64,
                                               len(stop_codes)))
            codes, tok_doc = codes[keep], tok_doc[keep]
    counts = np.bincount(tok_doc, minlength=n_docs)
    return tok_doc, codes, counts, terms


def _factorize_spans(arr: np.ndarray, starts: np.ndarray, tok_len: np.ndarray,
                     maxlen: int) -> tuple[np.ndarray, list[str]]:
    """Exact string factorize without strings: pack each token's NUL-padded
    bytes into ceil(maxlen/8) BIG-ENDIAN uint64 words (numeric order ==
    byte-lexicographic order; NUL can never occur inside an [a-z0-9]+ token,
    so padded equality == token equality) and unique on integer keys —
    integer sorts are ~20x faster than numpy's S-dtype comparisons, which
    dominated this kernel when measured."""
    n = len(starts)
    nwords = (maxlen + 7) // 8
    width = nwords * 8
    apad = np.concatenate([arr, np.zeros(width, dtype=np.uint8)])
    m = np.empty((n, width), dtype=np.uint8)
    for j in range(width):        # width ≤ 64: tiny loop over 1-D gathers,
        m[:, j] = apad[starts + j]  # no (n × width) int64 index matrix
    for j in range(width):
        m[tok_len <= j, j] = 0
    words = np.ascontiguousarray(m).view(">u8").astype(np.uint64)
    if nwords == 1:
        uniq, inv = np.unique(words.ravel(), return_inverse=True)
        tb = uniq.astype(">u8").tobytes()
        terms = [tb[i * 8:(i + 1) * 8].rstrip(b"\x00").decode()
                 for i in range(len(uniq))]
        return inv.astype(np.int64), terms
    order = np.lexsort(tuple(words[:, j] for j in reversed(range(nwords))))
    sw = words[order]
    new = np.empty(n, dtype=bool)
    new[0] = True
    new[1:] = (sw[1:] != sw[:-1]).any(axis=1)
    gid = np.cumsum(new) - 1
    inv = np.empty(n, dtype=np.int64)
    inv[order] = gid
    reps = order[new]  # first row of each group, in sorted (term) order
    terms = [bytes(m[r]).rstrip(b"\x00").decode() for r in reps]
    return inv, terms


def build_shard_fast(shard: int, doc_ids: np.ndarray, texts,
                     cfg: IndexConfig, avgdl: float,
                     columns: list[str]) -> pd.DataFrame:
    """One micro-shard → posting-block rows (fast path). Bit-identical
    payloads to the generic build_shard with codec='for'."""
    doc_ids = np.ascontiguousarray(doc_ids, dtype=np.int64)
    tok_doc, codes, counts, terms = tokenize_shard_bytes(texts, cfg)
    if not len(codes):
        return pd.DataFrame(columns=columns)
    order = np.lexsort((tok_doc, codes))  # stable: in-doc order preserved
    c, dord = codes[order], tok_doc[order]
    new = np.empty(len(c), dtype=bool)
    new[0] = True
    new[1:] = (c[1:] != c[:-1]) | (dord[1:] != dord[:-1])
    pstarts = np.flatnonzero(new)
    tf = np.diff(np.append(pstarts, len(c)))
    cu, du_ord = c[pstarts], dord[pstarts]
    du = doc_ids[du_ord]
    dlu = counts[du_ord]

    pos_sorted = None
    if cfg.positions:
        # in-doc position of every kept token (tokens are doc-major ordered
        # after filtering, so position = index − first index of its doc);
        # the stable lexsort keeps them ascending within each posting
        firsts = np.concatenate(([0], np.cumsum(counts[:-1])))
        pos = np.arange(len(tok_doc), dtype=np.int64) - firsts[tok_doc]
        pos_sorted = pos[order]

    blk = encode_blocks_bulk(du, tf, dlu, cu, avgdl, cfg.block_size,
                             cfg.k1, cfg.b, pos_sorted=pos_sorted,
                             pstarts=pstarts if cfg.positions else None)
    if blk["n_blocks"] == 0:
        return pd.DataFrame(columns=columns)
    term_arr = np.asarray(terms, dtype=object)[blk["term_code"]]
    d_bytes = _assemble_payload_bytes(*blk["payloads"][0], blk["block_lens"])
    t_bytes = _assemble_payload_bytes(*blk["payloads"][1], blk["block_lens"])
    p_bytes = (_assemble_pos_bytes(*blk["pos_payload"])
               if blk["pos_payload"] is not None
               else [b""] * blk["n_blocks"])
    return pd.DataFrame({
        "shard_id": np.full(blk["n_blocks"], shard, dtype=np.int32),
        "term": term_arr,
        "first_doc": blk["first_doc"],
        "last_doc": blk["last_doc"],
        "n": blk["n"],
        "max_tf": blk["max_tf"],
        "sum_tf": blk["sum_tf"],
        "min_dl": blk["min_dl"],
        "max_tfnorm": blk["max_tfnorm"],
        "doc_bytes": d_bytes,
        "tf_bytes": t_bytes,
        "pos_bytes": p_bytes,
    }, columns=columns)
