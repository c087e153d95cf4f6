"""Block-max pruning (SURVEY §2.7 Q5): the scoring kernel must (a) return
bit-identical results to exhaustive evaluation and (b) measurably skip block
decodes on Zipf-head queries. The kernel is a pure function over a pandas
block table, so these tests run it in-process (no Spark) and count decodes
via query.bm25.DECODE_STATS."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from conftest import write_docmap

from solr_mapreduce_indexer_spark.index.codec import bm25_tfnorm, encode_blocks
from solr_mapreduce_indexer_spark.query import bm25 as Q

K1, B, AVGDL = 1.2, 0.75, 30.0


@pytest.fixture(scope="module")
def corpus():
    """Zipf-ish synthetic posting table: hot terms cover most docs."""
    rng = np.random.default_rng(7)
    n_docs, vocab = 4000, 40
    doc_lens = rng.integers(5, 60, n_docs)
    postings: dict[str, list[tuple[int, int]]] = {}
    probs = (np.arange(1, vocab + 1) ** -1.2)
    probs /= probs.sum()
    for d in range(n_docs):
        for t in rng.choice(vocab, rng.integers(2, 10), replace=False, p=probs):
            # Zipf-ish tf (mostly 1, occasionally high) so per-block maxima
            # vary — the distribution block-max pruning exploits in real text
            postings.setdefault(f"t{t:02d}", []).append(
                (d, min(int(rng.geometric(0.6)), 12)))
    rows = []
    for term, pl in postings.items():
        pl.sort()
        docs = np.array([p[0] for p in pl])
        tfs = np.array([p[1] for p in pl])
        for blk in encode_blocks(docs, tfs, doc_lens[docs], AVGDL,
                                 block_size=32, k1=K1, b=B):
            rows.append(dict(shard_id=0, term=term, **blk))
    dfs = {t: len(pl) for t, pl in postings.items()}
    idfs = {t: math.log(1.0 + (n_docs - d + 0.5) / (d + 0.5))
            for t, d in dfs.items()}
    return pd.DataFrame(rows), postings, doc_lens, idfs, dfs


def brute(postings, doc_lens, idfs, terms, mode, k):
    scores: dict[int, dict[str, float]] = {}
    for t in terms:
        for d, tf in postings.get(t, {}):
            c = idfs[t] * float(bm25_tfnorm(np.array([tf]),
                                            np.array([doc_lens[d]]),
                                            AVGDL, K1, B)[0])
            scores.setdefault(d, {})[t] = c
    out = []
    for d, tc in scores.items():
        if mode == "AND" and len(tc) < len(set(terms)):
            continue
        out.append((d, sum(tc[t] for t in sorted(tc))))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out[:k]


@pytest.fixture(scope="module")
def docmap(corpus, tmp_path_factory):
    doc_lens = corpus[2]
    return write_docmap(tmp_path_factory.mktemp("blockmax") / "docmap",
                        np.arange(len(doc_lens)), doc_lens)


def run_kernel(pdf, idfs, queries, docmap):
    kern = Q._score_shard_kernel(queries, idfs, AVGDL, K1, B, docmap)
    return kern(pdf)


def test_results_match_bruteforce(corpus, docmap):
    pdf, postings, doc_lens, idfs, dfs = corpus
    rng = np.random.default_rng(3)
    terms_by_df = sorted(dfs, key=lambda t: -dfs[t])
    queries = []
    for i in range(60):
        kind = i % 4
        if kind == 0:
            ts, mode = list(rng.choice(terms_by_df[:5], 2, replace=False)), "AND"
        elif kind == 1:
            ts, mode = list(rng.choice(terms_by_df[5:25], 3, replace=False)), "OR"
        elif kind == 2:
            ts, mode = [terms_by_df[-1], terms_by_df[0]], "AND"
        else:
            ts, mode = [terms_by_df[-2], "absent"], "OR"
        queries.append({"query_id": i, "terms": sorted(set(ts)),
                        "mode": mode, "k": int(rng.integers(1, 12))})
    queries.append({"query_id": 998, "terms": [terms_by_df[0]],
                    "mode": "OR", "k": 10**6})
    queries.append({"query_id": 999, "terms": terms_by_df[:2],
                    "mode": "AND", "k": 10**6})

    res = run_kernel(pdf, idfs, queries, docmap)
    for q in queries:
        exp = brute(postings, doc_lens, idfs, q["terms"], q["mode"], q["k"])
        got = res[res.query_id == q["query_id"]]
        got = sorted(zip(got.doc_id, got.score), key=lambda x: (-x[1], x[0]))
        assert len(got) == len(exp), q
        for (ed, es), (gd, gs) in zip(exp, got):
            assert ed == gd and abs(es - gs) < 1e-12, q


def test_blockmax_skips_blocks(corpus, docmap):
    """A Zipf-head AND query must decode measurably fewer blocks than its
    terms own (the round-1 kernel always decoded the essential term's entire
    posting list — bench.py make_queries kind-0 is exactly this shape)."""
    pdf, postings, doc_lens, idfs, dfs = corpus
    hot = sorted(dfs, key=lambda t: -dfs[t])[:2]
    Q.DECODE_STATS["blocks_decoded"] = 0
    run_kernel(pdf, idfs, [{"query_id": 0, "terms": sorted(hot),
                            "mode": "AND", "k": 5}], docmap)
    decoded = Q.DECODE_STATS["blocks_decoded"]
    total = int((pdf.term.isin(hot)).sum())
    assert decoded < 0.9 * total, (decoded, total)


def test_skip_exactness_on_ties(corpus, docmap):
    """k exactly at a tie boundary: pruning must not drop an equal-score,
    lower-doc-id result (skips use strict bounds)."""
    pdf, postings, doc_lens, idfs, dfs = corpus
    t = sorted(dfs, key=lambda t: -dfs[t])[0]
    res = run_kernel(pdf, idfs, [{"query_id": 0, "terms": [t],
                                  "mode": "OR", "k": 7}], docmap)
    exp = brute(postings, doc_lens, idfs, [t], "OR", 7)
    got = sorted(zip(res.doc_id, res.score), key=lambda x: (-x[1], x[0]))
    assert [d for d, _ in got] == [d for d, _ in exp]
