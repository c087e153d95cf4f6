from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from solr_mapreduce_indexer_spark.session import get_spark  # noqa: E402


def settled_job_ids(sc, group):
    """Spark job ids in `group` plus the ungrouped ones, read from
    statusTracker once the id set stops growing (the listener bus that
    feeds it is asynchronous)."""
    import time
    tr = sc.statusTracker()

    def ids():
        return (set(tr.getJobIdsForGroup(None))
                | set(tr.getJobIdsForGroup(group)))
    got, deadline = ids(), time.monotonic() + 5.0
    while time.monotonic() < deadline:
        time.sleep(0.2)
        nxt = ids()
        if nxt == got:
            break
        got = nxt
    return got


def write_docmap(root, doc_ids, doc_lens, doc_bits: int = 40) -> str:
    """Write the docmap of synthetic posting blocks: (doc_id, doc_len) rows
    in the engine's layout, one `shard_id=m` directory per micro-shard
    m = doc_id >> doc_bits. Kernels read doc lengths from it exactly as they
    read a built index's docmap. Returns its path."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    ids = np.asarray(doc_ids, dtype=np.int64)
    lens = np.asarray(doc_lens, dtype=np.int64)
    for m in np.unique(ids >> doc_bits):
        sel = (ids >> doc_bits) == m
        part = os.path.join(str(root), f"shard_id={int(m)}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(pa.table({"doc_id": ids[sel], "doc_len": lens[sel]}),
                       os.path.join(part, "part-00000.parquet"))
    return str(root)


def read_doc_lens(docmap_path, docs, doc_bits: int = 40):
    """Doc lengths of `docs` through the engine's per-shard norms read."""
    import numpy as np

    from solr_mapreduce_indexer_spark.index.tombstones import (doc_lens_of,
                                                               load_doc_lens)
    docs = np.asarray(docs, dtype=np.int64)
    return doc_lens_of(*load_doc_lens(docmap_path, docs, docs, doc_bits),
                       docs)


def phrase_oracle(texts, phrase, k1=1.2, b=0.75):
    """Per-doc (phrase_freq, dl) + BM25 phrase scores over the corpus:
    {text index: score} for every text holding the phrase (Lucene phrase
    BM25: tf = phrase freq, weight = Σ idf of the phrase slots)."""
    import math
    import re
    pat = re.compile("[a-z0-9]+")
    toks = [pat.findall(t.lower()) for t in texts]
    n = len(toks)
    avgdl = sum(map(len, toks)) / n
    dfs = {t: sum(1 for tk in toks if t in tk) for t in set(phrase)}
    idf_sum = sum(math.log(1 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
                  for t in phrase)
    out = {}
    for i, tk in enumerate(toks):
        pf = sum(1 for j in range(len(tk) - len(phrase) + 1)
                 if tk[j:j + len(phrase)] == phrase)
        if pf:
            dl = len(tk)
            out[i] = idf_sum * pf * (k1 + 1) / (
                pf + k1 * (1 - b + b * dl / avgdl))
    return out


def oracle_scores(oracle, q) -> dict:
    """{(conv_id, turn_idx): score} of every doc matching query `q`, from
    the independent references: `PandasOracle` for AND/OR, phrase_oracle
    over the oracle's deduplicated docs for PHRASE."""
    docs = oracle.docs
    keys = list(zip(docs["conv_id"], docs["turn_idx"].astype(int)))
    if q["mode"] == "PHRASE":
        hits = phrase_oracle(list(docs["text"]),
                             [t.lower() for t in q["terms"]],
                             oracle.k1, oracle.b)
        return {keys[i]: s for i, s in hits.items()}
    full = oracle.score(q["terms"], q["mode"], k=len(docs))
    return dict(zip(zip(full["conv_id"], full["turn_idx"].astype(int)),
                    full["score"]))


def assert_batch_matches_oracle(got, oracle, batch, rel=1e-9):
    """`got` (run_queries rows) holds each query's top k by the oracle:
    ranks 1..n with n = min(k, matches), scores equal to the oracle's k
    best in order, each row's score the oracle's score for that doc, and
    every doc the oracle scores clearly above the k-th present. Which of
    several docs tied at the k-th score is returned depends on doc ids,
    which the oracle keys do not carry."""
    for q in batch:
        want = oracle_scores(oracle, q)
        rows = got[got["query_id"] == q["query_id"]].sort_values("rank")
        top = sorted(want.values(), reverse=True)[:q["k"]]
        assert list(rows["rank"]) == list(range(1, len(top) + 1)), q
        assert list(rows["score"]) == pytest.approx(top, rel=rel), q
        keys = list(zip(rows["conv_id"], rows["turn_idx"].astype(int)))
        for key, s in zip(keys, rows["score"]):
            assert s == pytest.approx(want[key], rel=rel), (q, key)
        if top:
            above = {k for k, s in want.items()
                     if s > top[-1] * (1 + rel) + rel}
            assert above <= set(keys), q


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="engine-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def transcripts_pdf():
    from solr_mapreduce_indexer_spark.sources.transcripts import synth_transcripts_pandas
    return synth_transcripts_pandas(n_convs=120, turns_per_conv=8, vocab_size=2000)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    from solr_mapreduce_indexer_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    return spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
