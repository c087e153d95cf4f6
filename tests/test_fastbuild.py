"""Fast posting-build kernel vs an independent per-doc oracle.

The oracle here re-derives postings the naive way (regex tokenize per doc,
Counter tf, encode_blocks per term via the original codec path) and the
tests assert the vectorized kernel (index/fastbuild.py) produces the SAME
rows with BYTE-IDENTICAL payloads — indexes written by either kernel must
be interchangeable. No Spark needed: both sides are pure numpy/pandas.
"""

from __future__ import annotations

import re
from collections import Counter

import numpy as np
import pandas as pd
import pytest
from conftest import read_doc_lens, write_docmap

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import POSTINGS_COLS
from solr_mapreduce_indexer_spark.index.codec import (
    decode_block, encode_blocks, encode_positions)
from solr_mapreduce_indexer_spark.index.fastbuild import (
    build_shard_fast, supports_fast_path, tokenize_shard_bytes)


def oracle_rows(shard, doc_ids, texts, cfg, avgdl):
    """Independent reference: per-doc regex tokenize + per-term encode."""
    pat = re.compile(cfg.token_pattern)
    stop = set(cfg.stopwords)
    per_doc = []
    for t in texts:
        toks = pat.findall(t.lower()) if t is not None else []
        if cfg.min_token_len > 1:
            toks = [x for x in toks if len(x) >= cfg.min_token_len]
        if stop:
            toks = [x for x in toks if x not in stop]
        per_doc.append(toks)
    postings: dict[str, list] = {}
    for did, toks in zip(doc_ids, per_doc):
        for term, tf in sorted(Counter(toks).items()):
            postings.setdefault(term, []).append((did, tf, len(toks)))
    _doc_ord = {did: i for i, did in enumerate(doc_ids)}
    rows = []
    for term in sorted(postings):
        pl = sorted(postings[term])
        d = np.array([p[0] for p in pl], np.int64)
        t = np.array([p[1] for p in pl], np.int64)
        dl = np.array([p[2] for p in pl], np.int64)
        pl_sorted = pl
        pos_by_posting = None
        if cfg.positions:
            # oracle positions: indices of the term within the doc's tokens
            pos_by_posting = [
                np.flatnonzero(np.asarray(per_doc[_doc_ord[p[0]]], object)
                               == term).astype(np.int64)
                for p in pl_sorted]
        for bi, blk in enumerate(encode_blocks(d, t, dl, avgdl,
                                               cfg.block_size, cfg.k1,
                                               cfg.b, codec="for")):
            if cfg.positions:
                s = bi * cfg.block_size
                e = s + blk["n"]
                flat = np.concatenate(pos_by_posting[s:e])
                pb = encode_positions(flat, t[s:e])
            else:
                pb = b""
            rows.append((shard, term, blk["first_doc"], blk["last_doc"],
                         blk["n"], blk["max_tf"], blk["sum_tf"],
                         blk["min_dl"], blk["max_tfnorm"], blk["doc_bytes"],
                         blk["tf_bytes"], pb))
    return pd.DataFrame(rows, columns=POSTINGS_COLS)


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.sort_values(["term", "first_doc"]).reset_index(drop=True)
    for c in df.columns:
        df[c] = df[c].astype(object)
    return df


def compare(texts, cfg=None, doc_base=7 << 40):
    cfg = cfg or IndexConfig()
    assert supports_fast_path(cfg)
    doc_ids = np.arange(len(texts), dtype=np.int64) + doc_base
    avgdl = 11.3
    got = _norm(build_shard_fast(3, doc_ids, np.asarray(texts, object),
                                 cfg, avgdl, POSTINGS_COLS))
    want = _norm(oracle_rows(3, doc_ids, texts, cfg, avgdl))
    assert len(got) == len(want), (len(got), len(want))
    for col in POSTINGS_COLS:
        for i, (a, b) in enumerate(zip(got[col], want[col])):
            if col == "max_tfnorm":
                assert a == pytest.approx(b, abs=1e-12), (col, i)
            else:
                assert a == b, (col, i, got["term"][i])
    return got


def test_basic_corpus():
    rng = np.random.default_rng(42)
    vocab = [f"tok{i:03d}" for i in range(50)]
    texts = [" ".join(rng.choice(vocab, size=rng.integers(1, 40)))
             for _ in range(700)]
    got = compare(texts)
    # hot vocab of 50 over 300 docs forces multi-block terms at block 128
    assert (got.groupby("term").size() > 1).any()


def test_block_roundtrip_decodes(tmp_path):
    rng = np.random.default_rng(1)
    vocab = [f"w{i}" for i in range(10)]
    texts = [" ".join(rng.choice(vocab, size=20)) for _ in range(500)]
    cfg = IndexConfig()
    doc_ids = np.arange(500, dtype=np.int64) + (3 << 40)
    docmap = write_docmap(tmp_path / "docmap", doc_ids, np.full(500, 20))
    got = build_shard_fast(3, doc_ids, np.asarray(texts, object), cfg, 20.0,
                           POSTINGS_COLS)
    # decode every block; postings must be sorted, tf>=1, and every doc's
    # docmap length (20) is the block's min_dl; Σtf per doc == doc_len
    tf_per_doc = {}
    for r in got.itertuples(index=False):
        d, t = decode_block(r.doc_bytes, r.tf_bytes, r.first_doc)
        assert d[0] == r.first_doc and d[-1] == r.last_doc
        assert (np.diff(d) > 0).all() and (t >= 1).all()
        assert t.max() == r.max_tf and t.sum() == r.sum_tf
        assert r.min_dl == read_doc_lens(docmap, d).min() == 20
        for doc, tf in zip(d.tolist(), t.tolist()):
            tf_per_doc[doc] = tf_per_doc.get(doc, 0) + tf
    assert set(tf_per_doc.values()) == {20} and len(tf_per_doc) == 500


def test_edge_cases():
    texts = ["", None, "   ", "ALL CAPS AND punct!!!", "héllo wörld naïve",
             "ﬁ ligature İstanbul Kelvin K sign", "\n\nnewlines\ninside\n",
             "a" * 500 + " short tail",  # giant token > _MAXPAD
             "numbers 123 mixed a1b2c3", "dup dup dup dup dup"]
    compare(texts)


def test_min_token_len_and_stopwords():
    texts = ["a bb ccc dddd the quick fox", "the the a bb fox jumps"]
    compare(texts, IndexConfig(min_token_len=2))
    compare(texts, IndexConfig(stopwords=("the", "a")))
    compare(texts, IndexConfig(min_token_len=3, stopwords=("the",)))


def test_positions_payload_matches_oracle():
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(12)]
    texts = [" ".join(rng.choice(vocab, size=rng.integers(1, 30)))
             for _ in range(400)]
    compare(texts, IndexConfig(positions=True))
    # stopword filtering renumbers positions over the KEPT token sequence
    compare(["w1 the w2 the w1 w2", "the w2 w1"],
            IndexConfig(positions=True, stopwords=("the",)))


def test_unicode_byte_tokenization_matches_regex():
    texts = ["café déjà-vu 42", "ñandú über straße", "русский текст abc",
             "日本語テキスト mixed ascii123", "emoji 🎉 party42 time"]
    tok_doc, codes, counts, terms = tokenize_shard_bytes(
        texts, IndexConfig())
    pat = re.compile("[a-z0-9]+")
    want_counts = [len(pat.findall(t.lower())) for t in texts]
    assert counts.tolist() == want_counts
    want_vocab = sorted({w for t in texts for w in pat.findall(t.lower())})
    assert terms == want_vocab
    compare(texts)


def test_empty_shard():
    cfg = IndexConfig()
    out = build_shard_fast(0, np.empty(0, np.int64), np.asarray([], object),
                           cfg, 10.0, POSTINGS_COLS)
    assert len(out) == 0 and list(out.columns) == POSTINGS_COLS
