"""Positions + PHRASE queries (Q5-adjacent stretch parity: the reference's
Lucene 7.7.2 output stores positions and serves phrase queries).

Oracle: pure-python per-doc evaluation — tokenize with the config regex,
count consecutive-position phrase occurrences, score with Lucene phrase
BM25 (tf = phrase freq, weight = Σ idf of the phrase slots).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from conftest import assert_batch_matches_oracle, phrase_oracle, write_docmap

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
from solr_mapreduce_indexer_spark.index.codec import (
    decode_positions, encode_positions)
from solr_mapreduce_indexer_spark.query.bm25 import bm25_topk, load_index
from solr_mapreduce_indexer_spark.sources.transcripts import TRANSCRIPT_SCHEMA

TEXTS = [
    "quick brown fox jumps over the lazy dog",
    "the quick brown cat sat still",
    "brown quick reversed words here now",
    "quick brown quick brown quick brown",   # 3 phrase occurrences
    "nothing relevant at all in this one",
    "ends with quick brown",
    "quick then gap then brown apart",
    "repeat repeat repeat repeat",
    "a quick brown moment then another quick brown moment",
]


def _corpus(spark):
    rows = [(f"c{i}", 0, "user", t, None, "2024-01-01T00:00:00")
            for i, t in enumerate(TEXTS)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


def test_position_codec_roundtrip():
    rng = np.random.default_rng(0)
    for _ in range(20):
        n_post = rng.integers(1, 50)
        tfs = rng.integers(1, 9, size=n_post)
        pos = np.concatenate([np.sort(rng.choice(5000, size=t, replace=False))
                              for t in tfs]).astype(np.int64)
        buf = encode_positions(pos, tfs)
        back, offs = decode_positions(buf, tfs)
        assert np.array_equal(back, pos)
        assert np.array_equal(offs, np.cumsum(tfs) - tfs)


def test_position_codec_large_count():
    # >65535 positions in one block exercises the 4-byte-count tag-2 path
    tfs = np.full(700, 100, dtype=np.int64)
    pos = np.concatenate([np.arange(100, dtype=np.int64)] * 700)
    back, _ = decode_positions(encode_positions(pos, tfs), tfs)
    assert len(back) == 70000 and np.array_equal(back, pos)


@pytest.fixture(scope="module")
def pidx(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("pidx") / "idx")
    cfg = IndexConfig(shards=2, positions=True)
    build_index(spark, _corpus(spark), cfg, idx)
    return idx


def _got_scores(spark, idx, phrase, k=10):
    res = bm25_topk(spark, load_index(idx), phrase, k=k, mode="PHRASE")
    return {int(r["conv_id"][1:]): r["score"] for r in res.collect()}


def test_phrase_matches_oracle(pidx, spark):
    got = _got_scores(spark, pidx, ["quick", "brown"])
    want = phrase_oracle(TEXTS, ["quick", "brown"])
    assert set(got) == set(want)  # docs 0,1,3,5,8 — not the reversed/gapped
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def test_phrase_counts_multiple_occurrences(pidx, spark):
    got = _got_scores(spark, pidx, ["quick", "brown"])
    want = phrase_oracle(TEXTS, ["quick", "brown"])
    # doc 3 has pf=3, doc 8 pf=2 — higher pf ⇒ higher score at similar dl
    assert got[3] == pytest.approx(want[3], rel=1e-12)
    assert want[3] > want[1]


def test_phrase_three_terms_and_duplicates(pidx, spark):
    got = _got_scores(spark, pidx, ["quick", "brown", "fox"])
    want = phrase_oracle(TEXTS, ["quick", "brown", "fox"])
    assert set(got) == {0} and got[0] == pytest.approx(want[0], rel=1e-12)
    got2 = _got_scores(spark, pidx, ["repeat", "repeat"])
    want2 = phrase_oracle(TEXTS, ["repeat", "repeat"])
    assert set(got2) == {7} and got2[7] == pytest.approx(want2[7], rel=1e-12)


def test_phrase_no_match_and_absent_term(pidx, spark):
    assert _got_scores(spark, pidx, ["brown", "dog"]) == {}
    assert _got_scores(spark, pidx, ["quick", "zzznope"]) == {}


def test_phrase_survives_compact(pidx, spark):
    from solr_mapreduce_indexer_spark.index.merge import compact_final
    from solr_mapreduce_indexer_spark.index.validate import validate_index
    before = _got_scores(spark, pidx, ["quick", "brown"])
    compact_final(spark, pidx)
    after = _got_scores(spark, pidx, ["quick", "brown"])
    assert before == after
    rep = validate_index(spark, pidx)
    assert rep["ok"], rep


def test_phrase_requires_positions(spark, tmp_path):
    idx = str(tmp_path / "nopos")
    build_index(spark, _corpus(spark), IndexConfig(shards=1), idx)
    h = load_index(idx)
    # eager driver-side ValueError at plan time, not a wrapped executor
    # error after a doomed batch (and not 0 silent rows when the phrase
    # happens to have no doc-level candidates — the lazy kernel check
    # never fires for those)
    with pytest.raises(ValueError, match="positions"):
        bm25_topk(spark, h, ["quick", "brown"], mode="PHRASE")
    with pytest.raises(ValueError, match="positions"):
        bm25_topk(spark, h, ["zzabsent", "alsoabsent"], mode="PHRASE")


def test_validate_checks_positions(pidx, spark):
    from solr_mapreduce_indexer_spark.index.validate import validate_index
    rep = validate_index(spark, pidx)
    assert rep["ok"], rep


# ---------------------------------------------------------------------------
# Conjunction-driven pruning (round-4): PHRASE must NOT decode every block of
# a Zipf-head phrase term — doc-level intersection drives which blocks (and
# which position streams) are touched, mirroring Lucene PhraseQuery's
# two-phase iteration. These tests run the kernel in-process and count block
# decodes via DECODE_STATS, exactly like tests/test_blockmax.py.
# ---------------------------------------------------------------------------

def _positional_table(docs_tokens, avgdl, docmap_root, block_size=32,
                      k1=1.2, b=0.75):
    """Token lists → posting-block pandas table WITH position streams, and
    the docmap holding the docs' lengths (written under docmap_root)."""
    from solr_mapreduce_indexer_spark.index.codec import (
        encode_blocks, encode_positions)
    postings = {}  # term -> list[(doc, positions)]
    for d, toks in enumerate(docs_tokens):
        per = {}
        for i, t in enumerate(toks):
            per.setdefault(t, []).append(i)
        for t, ps in per.items():
            postings.setdefault(t, []).append((d, ps))
    doc_lens = np.array([len(t) for t in docs_tokens], dtype=np.int64)
    rows = []
    for term, pl in postings.items():
        pl.sort()
        docs = np.array([p[0] for p in pl], dtype=np.int64)
        tfs = np.array([len(p[1]) for p in pl], dtype=np.int64)
        flat = np.concatenate([np.asarray(p[1], np.int64) for p in pl])
        offs = np.cumsum(tfs) - tfs
        for bi, blk in enumerate(encode_blocks(
                docs, tfs, doc_lens[docs], avgdl, block_size=block_size,
                k1=k1, b=b)):
            s, e = bi * block_size, bi * block_size + blk["n"]
            lo = offs[s]
            hi = offs[e - 1] + tfs[e - 1]
            blk["pos_bytes"] = encode_positions(flat[lo:hi], tfs[s:e])
            rows.append(dict(shard_id=0, term=term, **blk))
    n = len(docs_tokens)
    dfs = {t: len(pl) for t, pl in postings.items()}
    idfs = {t: math.log(1.0 + (n - d + 0.5) / (d + 0.5))
            for t, d in dfs.items()}
    docmap = write_docmap(docmap_root, np.arange(n), doc_lens)
    return pd.DataFrame(rows), idfs, doc_lens, docmap


@pytest.fixture(scope="module")
def zipf_positional(tmp_path_factory):
    """4000 docs; 'hot' appears in nearly every doc (Zipf head), 'rare' in a
    handful — and the phrase 'rare hot' occurs in exactly those docs."""
    rng = np.random.default_rng(11)
    fillers = [f"f{i:02d}" for i in range(30)]
    docs = []
    for d in range(4000):
        toks = list(rng.choice(fillers, rng.integers(8, 30)))
        toks.insert(int(rng.integers(0, len(toks))), "hot")
        if d % 100 == 0:  # 40 docs contain the phrase
            j = int(rng.integers(0, len(toks)))
            toks[j:j] = ["rare", "hot"]
        docs.append(toks)
    avgdl = float(np.mean([len(t) for t in docs]))
    pdf, idfs, doc_lens, docmap = _positional_table(
        docs, avgdl, tmp_path_factory.mktemp("zipf") / "docmap")
    return docs, pdf, idfs, doc_lens, avgdl, docmap


@pytest.fixture(scope="module")
def zipf_oracle(zipf_positional):
    """PandasOracle over the zipf corpus: doc d is conversation f"c{d}"."""
    from solr_mapreduce_indexer_spark.query.oracle import PandasOracle
    docs = zipf_positional[0]
    return PandasOracle(pd.DataFrame({
        "conv_id": [f"c{d}" for d in range(len(docs))], "turn_idx": 0,
        "text": [" ".join(t) for t in docs]}), shards=1, partitions=1)


def _ranked(kernel_out):
    """Kernel candidates (query_id, doc_id, score; rank order per query) as
    run_queries-shaped rows keyed like zipf_oracle's docs."""
    return kernel_out.assign(
        rank=kernel_out.groupby("query_id").cumcount() + 1,
        conv_id="c" + kernel_out["doc_id"].astype(str), turn_idx=0)


def test_phrase_prunes_hot_term_blocks(zipf_positional):
    from solr_mapreduce_indexer_spark.query import bm25 as Q
    docs, pdf, idfs, doc_lens, avgdl, docmap = zipf_positional
    Q.DECODE_STATS["blocks_decoded"] = 0
    Q.DECODE_STATS["pos_blocks_decoded"] = 0
    kern = Q._score_shard_kernel(
        [{"query_id": 0, "terms": ["rare", "hot"], "mode": "PHRASE",
          "k": 100}], idfs, avgdl, 1.2, 0.75, docmap)
    res = kern(pdf, _table_fetcher(pdf))
    pos_decoded = Q.DECODE_STATS["pos_blocks_decoded"]
    postings_decoded = Q.DECODE_STATS["blocks_decoded"] - pos_decoded
    total = int(pdf.term.isin(["rare", "hot"]).sum())
    # exhaustive (round-3 behavior) decoded every block of both terms;
    # conjunction-driven must touch a small fraction PER PAYLOAD: all of
    # 'rare' (1-2 blocks) + only candidate-overlapping blocks of 'hot' —
    # for the postings stream in phase 1 and (since round-5 lazy decode,
    # counted separately) the position stream in phase 2
    assert postings_decoded < 0.6 * total, (postings_decoded, total)
    assert pos_decoded < 0.6 * total, (pos_decoded, total)
    # and the results must still be exactly right
    want = phrase_oracle([" ".join(t) for t in docs], ["rare", "hot"])
    got = dict(zip(res.doc_id, res.score))
    assert set(got) == set(want)
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)


def _table_fetcher(pdf, requested=None, calls=None):
    """A pos_fetch over an in-memory block table with the direct plan's
    contract ({term: [first_doc, ...]} → {(term, first_doc): pos_bytes});
    records the requested blocks per term and each call's needs."""
    def pos_fetch(needs):
        if calls is not None:
            calls.append(needs)
        out = {}
        for term, first_docs in needs.items():
            if requested is not None:
                requested.setdefault(term, set()).update(
                    int(x) for x in first_docs)
            g = pdf[(pdf["term"] == term)
                    & pdf["first_doc"].isin(list(first_docs))]
            out.update(((term, int(f)), pb)
                       for f, pb in zip(g["first_doc"], g["pos_bytes"]))
        return out
    return pos_fetch


def test_phrase_position_payload_io_pruned(zipf_positional):
    """Position payloads are READ (pos_fetch point-read), not shipped up
    front — and only for candidate-overlapping blocks. The hot term's
    non-candidate pos_bytes must never be requested from storage, and
    results must equal the phrase oracle."""
    from solr_mapreduce_indexer_spark.query import bm25 as Q
    docs, pdf, idfs, doc_lens, avgdl, docmap = zipf_positional
    queries = [{"query_id": 0, "terms": ["rare", "hot"], "mode": "PHRASE",
                "k": 100}]

    # no pos_bytes column; a counting fetcher serves point-reads from the
    # same table
    requested: dict[str, set] = {}
    Q.DECODE_STATS["pos_blocks_fetched"] = 0
    got = Q._score_shard_kernel(queries, idfs, avgdl, 1.2, 0.75, docmap)(
        pdf.drop(columns=["pos_bytes"]), _table_fetcher(pdf, requested))
    want = phrase_oracle([" ".join(t) for t in docs], ["rare", "hot"])
    assert set(got.doc_id) == set(want)
    for d, sc in zip(got.doc_id, got.score):
        assert sc == pytest.approx(want[d], rel=1e-12)

    n_hot = int((pdf["term"] == "hot").sum())
    assert "hot" in requested
    # non-candidate hot blocks are never requested from storage
    assert len(requested["hot"]) < 0.6 * n_hot, (len(requested["hot"]), n_hot)
    assert Q.DECODE_STATS["pos_blocks_fetched"] == sum(
        len(v) for v in requested.values())


def test_phrase_early_empty_fetches_undecoded_slot_blocks(zipf_positional):
    """The one read per shard happens before phase 2, so it also fetches the
    blocks of slots after the one where a phrase's (doc, pos − slot) key set
    empties: those are fetched and never decoded. 'rare' is always directly
    followed by 'hot', so 'rare f01 hot' has doc-level candidates (docs with
    all three terms) but empties at slot 1; the extra fetched blocks are
    exactly 'hot's candidate-overlapping blocks. A phrase that survives
    every slot fetches no block it does not decode."""
    from solr_mapreduce_indexer_spark.query import bm25 as Q
    docs, pdf, idfs, doc_lens, avgdl, docmap = zipf_positional
    cand = np.array([d for d, toks in enumerate(docs)
                     if {"rare", "f01", "hot"} <= set(toks)])
    assert len(cand)
    hot = pdf[pdf["term"] == "hot"]
    lo = np.searchsorted(cand, hot["first_doc"].to_numpy(), side="left")
    hi = np.searchsorted(cand, hot["last_doc"].to_numpy(), side="right")
    n_hot_hit = int((hi > lo).sum())

    def stats(terms):
        for key in ("pos_blocks_fetched", "pos_blocks_decoded"):
            Q.DECODE_STATS[key] = 0
        res = Q._score_shard_kernel(
            [{"query_id": 0, "terms": terms, "mode": "PHRASE", "k": 100}],
            idfs, avgdl, 1.2, 0.75, docmap)(
                pdf.drop(columns=["pos_bytes"]), _table_fetcher(pdf))
        return (len(res), Q.DECODE_STATS["pos_blocks_fetched"],
                Q.DECODE_STATS["pos_blocks_decoded"])

    rows, fetched, decoded = stats(["rare", "f01", "hot"])
    assert rows == 0
    assert fetched - decoded == n_hot_hit > 0, (fetched, decoded, n_hot_hit)
    rows, fetched, decoded = stats(["rare", "hot"])
    assert rows == 40 and fetched == decoded


def test_phrase_batch_reads_positions_once(zipf_positional, zipf_oracle):
    """Every PHRASE query's phase 1 runs before any position read, so a
    batch of several phrases calls the fetcher ONCE for the shard, and
    every query's top k equals the oracles'."""
    from solr_mapreduce_indexer_spark.query import bm25 as Q
    docs, pdf, idfs, doc_lens, avgdl, docmap = zipf_positional
    queries = [
        {"query_id": 0, "terms": ["rare", "hot"], "mode": "PHRASE", "k": 50},
        {"query_id": 1, "terms": ["f01", "f02"], "mode": "PHRASE", "k": 20},
        {"query_id": 2, "terms": ["hot", "f03", "f04"], "mode": "PHRASE",
         "k": 20},
        {"query_id": 3, "terms": ["f05", "hot"], "mode": "AND", "k": 10},
    ]
    calls: list = []
    got = Q._score_shard_kernel(queries, idfs, avgdl, 1.2, 0.75, docmap)(
        pdf.drop(columns=["pos_bytes"]), _table_fetcher(pdf, calls=calls))
    assert_batch_matches_oracle(_ranked(got), zipf_oracle, queries)
    assert len(calls) == 1
    assert {"hot", "f01", "f02", "f03", "f04"} <= set(calls[0])
    for qid in (0, 1, 2):  # every phrase matched somewhere
        assert (got["query_id"] == qid).any(), qid


def test_direct_fetch_reads_positions_once_per_shard(pidx, spark):
    """The direct plan's generator hands each shard's kernel one pos_fetch;
    a batch of several PHRASE queries calls it at most once per shard, and
    the per-shard candidates equal the kernel's on the whole shard table
    served by an in-memory fetcher."""
    import pyarrow.dataset as pads

    from solr_mapreduce_indexer_spark.query import bm25 as Q
    h = load_index(pidx)
    phrases = [["quick", "brown"], ["lazy", "dog"], ["brown", "cat"],
               ["repeat", "repeat"]]
    queries = [{"query_id": i, "terms": t, "mode": "PHRASE", "k": 10}
               for i, t in enumerate(phrases)]
    terms = sorted({t for p in phrases for t in p})
    idfs = {t: 1.0 + i / 10 for i, t in enumerate(terms)}
    kernel = Q._score_shard_kernel(queries, idfs, h.avgdl, h.cfg.k1, h.cfg.b,
                                   h.docmap_path)
    calls: list = []

    def counting_kernel(blocks, pos_fetch):
        def counted(needs):
            calls[-1] += 1
            return pos_fetch(needs)
        calls.append(0)
        return kernel(blocks, counted)

    gen = Q._direct_fetch_gen(h.postings_path, terms, terms, counting_kernel)
    got = pd.concat(list(gen(iter([pd.DataFrame(
        {"shard_id": list(h.shard_ids)})]))), ignore_index=True)
    assert len(calls) == len(h.shard_ids)
    assert all(c <= 1 for c in calls) and sum(calls) >= 1, calls
    tables = [pads.dataset(f"{h.postings_path}/shard_id={s}",
                           format="parquet").to_table(
        filter=pads.field("term").isin(terms)).to_pandas()
        for s in h.shard_ids]
    want = pd.concat([kernel(t, _table_fetcher(t)) for t in tables],
                     ignore_index=True)
    pd.testing.assert_frame_equal(got, want)
    assert set(got["query_id"]) == {0, 1, 2, 3}


def test_kernel_ignores_input_row_order(zipf_positional, zipf_oracle):
    """Rows of one shard arrive in file order, not (term, first_doc) order;
    shuffled input must score identically, with or without the (ignored)
    pos_bytes column, and equal the oracles."""
    from solr_mapreduce_indexer_spark.query import bm25 as Q
    docs, pdf, idfs, doc_lens, avgdl, docmap = zipf_positional
    queries = [
        {"query_id": 0, "terms": ["rare", "hot"], "mode": "PHRASE", "k": 50},
        {"query_id": 1, "terms": ["f01", "hot"], "mode": "AND", "k": 20},
        {"query_id": 2, "terms": ["f02", "rare", "f07"], "mode": "OR",
         "k": 30},
    ]
    shuffled = pdf.sample(frac=1, random_state=0)
    assert not shuffled.index.equals(pdf.index)
    kern = Q._score_shard_kernel(queries, idfs, avgdl, 1.2, 0.75, docmap)
    ref = kern(pdf, _table_fetcher(pdf))
    assert set(ref["query_id"]) == {0, 1, 2}
    assert_batch_matches_oracle(_ranked(ref), zipf_oracle, queries)
    pd.testing.assert_frame_equal(kern(shuffled, _table_fetcher(pdf)), ref)
    no_pos = shuffled.drop(columns=["pos_bytes"])
    pd.testing.assert_frame_equal(kern(no_pos, _table_fetcher(pdf)), ref)


def test_phrase_position_overflow_fails_loudly(tmp_path):
    """In-doc positions beyond the 32-bit key field must raise, not silently
    drop matches (the round-3 21-bit packing lost hits past ~2.09M tokens)."""
    from solr_mapreduce_indexer_spark.index.codec import (
        encode_blocks, encode_positions)
    from solr_mapreduce_indexer_spark.query import bm25 as Q
    big = (1 << 32) + 10  # a (pathological) position past the key field
    rows = []
    for term, pos in (("aa", np.array([big], np.int64)),
                      ("bb", np.array([big + 1], np.int64))):
        blk = encode_blocks(np.array([5]), np.array([1]),
                            np.array([big + 100]), avgdl=50.0)[0]
        blk["pos_bytes"] = encode_positions(pos, np.array([1]))
        rows.append(dict(shard_id=0, term=term, **blk))
    idfs = {"aa": 1.0, "bb": 1.0}
    docmap = write_docmap(tmp_path / "docmap", [5], [big + 100])
    kern = Q._score_shard_kernel(
        [{"query_id": 0, "terms": ["aa", "bb"], "mode": "PHRASE", "k": 10}],
        idfs, 50.0, 1.2, 0.75, docmap)
    table = pd.DataFrame(rows)
    with pytest.raises(ValueError, match="2\\^32"):
        kern(table, _table_fetcher(table))


def test_phase1_ruled_out_blocks_never_pay_position_decode(tmp_path):
    """Round-5 lazy decode: phase 1 is postings-only, so a lead-term block
    whose docs are all eliminated by the conjunction NEVER decodes its
    position payload. Fixture: 'lead' (rarest, leads) spans 16 blocks across
    the whole doc range; 'com' restricts candidates to the first ~90 docs —
    phase 2 must touch positions for only the few candidate-overlapping
    blocks, while phase 1 postings-decodes dozens."""
    from solr_mapreduce_indexer_spark.query import bm25 as Q
    rng = np.random.default_rng(23)
    fillers = [f"g{i:02d}" for i in range(20)]
    docs = []
    for d in range(4000):
        toks = list(rng.choice(fillers, rng.integers(8, 20)))
        if d % 8 == 0:
            j = int(rng.integers(0, len(toks)))
            if d < 96:  # phrase "lead com" adjacent here only
                toks[j:j] = ["lead", "com"]
            else:
                toks.insert(j, "lead")
        elif d < 96 or (d >= 2000 and d % 2 == 1):
            toks.insert(int(rng.integers(0, len(toks))), "com")
    # 'lead' df=500 (rarest -> leads, ~16 blocks over the full range);
    # 'com' df~1080; candidates = docs {0,8,...,88} only.
        docs.append(toks)
    avgdl = float(np.mean([len(t) for t in docs]))
    pdf, idfs, doc_lens, docmap = _positional_table(docs, avgdl,
                                                    tmp_path / "docmap")
    assert idfs["lead"] > idfs["com"]  # 'lead' really is the lead term
    n_lead_blocks = int((pdf.term == "lead").sum())
    assert n_lead_blocks >= 12
    Q.DECODE_STATS["blocks_decoded"] = 0
    Q.DECODE_STATS["pos_blocks_decoded"] = 0
    kern = Q._score_shard_kernel(
        [{"query_id": 0, "terms": ["lead", "com"], "mode": "PHRASE",
          "k": 100}], idfs, avgdl, 1.2, 0.75, docmap)
    res = kern(pdf, _table_fetcher(pdf))
    pos_decoded = Q.DECODE_STATS["pos_blocks_decoded"]
    all_decoded = Q.DECODE_STATS["blocks_decoded"]
    # candidates live in docs 0..88: <=2 lead blocks + <=4 com blocks
    assert pos_decoded <= 6, (pos_decoded, all_decoded)
    # phase 1 postings-decoded far more (all 16 lead + most com blocks)
    assert all_decoded - pos_decoded >= 3 * pos_decoded, \
        (pos_decoded, all_decoded)
    # results still exactly right
    want = phrase_oracle([" ".join(t) for t in docs], ["lead", "com"])
    got = dict(zip(res.doc_id, res.score))
    assert set(got) == set(want) != set()
    for d in want:
        assert got[d] == pytest.approx(want[d], rel=1e-12)
