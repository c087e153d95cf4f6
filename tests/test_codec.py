import numpy as np
import pytest
from conftest import read_doc_lens, write_docmap
from hypothesis import given, settings
from hypothesis import strategies as st

from solr_mapreduce_indexer_spark.index.codec import (
    bm25_tfnorm, decode_block, decode_doc_deltas, encode_blocks,
    encode_doc_deltas, varint_decode, varint_encode)


def test_varint_known_values():
    assert varint_encode(np.array([0])) == b"\x00"
    assert varint_encode(np.array([1])) == b"\x01"
    assert varint_encode(np.array([127])) == b"\x7f"
    assert varint_encode(np.array([128])) == b"\x80\x01"
    assert varint_encode(np.array([300])) == b"\xac\x02"
    assert varint_encode(np.array([], dtype=np.int64)) == b""


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
def test_varint_roundtrip(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


@pytest.mark.parametrize("n", [0, 1, 127, 128, 129, 1000, 100_000])
def test_delta_roundtrip_lengths(n):
    rng = np.random.default_rng(7)
    docs = np.cumsum(rng.integers(1, 2**32, size=n).astype(np.int64)) if n else np.array([], np.int64)
    buf = encode_doc_deltas(docs)
    out = decode_doc_deltas(buf, int(docs[0]) if n else 0)
    assert np.array_equal(out, docs)


@pytest.mark.parametrize("n", [1, 127, 128, 129, 1000])
def test_block_roundtrip_and_blockmax_soundness(n, tmp_path):
    rng = np.random.default_rng(13)
    docs = np.sort(rng.choice(10 * n, size=n, replace=False)).astype(np.int64)
    tfs = rng.integers(1, 1000, size=n).astype(np.int64)
    dls = rng.integers(1, 500, size=n).astype(np.int64)
    avgdl = float(dls.mean())
    docmap = write_docmap(tmp_path / "docmap", docs, dls)
    blocks = encode_blocks(docs, tfs, dls, avgdl, block_size=128)
    assert sum(b["n"] for b in blocks) == n
    assert all("len_bytes" not in b for b in blocks)  # norms live per doc
    got_d, got_t = [], []
    for b in blocks:
        d, t = decode_block(b["doc_bytes"], b["tf_bytes"], b["first_doc"])
        assert d[0] == b["first_doc"] and d[-1] == b["last_doc"]
        assert len(d) == b["n"] == len(t)
        # block-max soundness: bound >= every true tfnorm in the block,
        # with the lengths the query kernel reads from the docmap
        ln = read_doc_lens(docmap, d)
        true = bm25_tfnorm(t, ln, avgdl)
        assert b["max_tfnorm"] >= true.max() - 1e-12
        assert b["max_tf"] == t.max() and b["min_dl"] == ln.min()
        got_d.append(d); got_t.append(t)
    assert np.array_equal(np.concatenate(got_d), docs)
    assert np.array_equal(np.concatenate(got_t), tfs)
    # postings strictly ascending across block boundaries
    alld = np.concatenate(got_d)
    assert (np.diff(alld) > 0).all()


def test_for_codec_roundtrip():
    import numpy as np
    from solr_mapreduce_indexer_spark.index.codec import for_decode, for_encode

    rng = np.random.default_rng(0)
    for vals in (rng.geometric(0.02, 128).astype(np.uint64),
                 rng.geometric(0.6, 128).astype(np.uint64),
                 np.zeros(5, dtype=np.uint64),
                 np.array([0], dtype=np.uint64),
                 np.array([2**40 - 1, 0, 7], dtype=np.uint64),
                 np.empty(0, dtype=np.uint64)):
        got = for_decode(for_encode(vals))
        assert (got == vals).all() and len(got) == len(vals)


def test_tagged_payloads_mixed_codecs_decode():
    """Blocks written with either codec (even mixed in one index) decode via
    the same decode_block — the payload tag byte dispatches."""
    import numpy as np
    from solr_mapreduce_indexer_spark.index.codec import (
        decode_block, encode_blocks)

    rng = np.random.default_rng(1)
    docs = np.cumsum(rng.integers(1, 50, 200))
    tfs = rng.integers(1, 9, 200)
    dls = rng.integers(5, 80, 200)
    for codec in ("for", "varint"):
        blocks = encode_blocks(docs, tfs, dls, 30.0, block_size=64,
                               codec=codec)
        out_d, out_t = [], []
        for b in blocks:
            d, t = decode_block(b["doc_bytes"], b["tf_bytes"],
                                b["first_doc"])
            out_d.append(d); out_t.append(t)
        assert (np.concatenate(out_d) == docs).all()
        assert (np.concatenate(out_t) == tfs).all()


def test_for_smaller_and_correct_on_typical_blocks():
    import numpy as np
    from solr_mapreduce_indexer_spark.index.codec import (
        encode_values, varint_encode)

    rng = np.random.default_rng(2)
    tfs = rng.geometric(0.6, 128).astype(np.uint64)
    assert len(encode_values(tfs, "for")) < len(varint_encode(tfs)) + 1
