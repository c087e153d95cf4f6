import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
from solr_mapreduce_indexer_spark.query.bm25 import (IndexHandle, bm25_topk,
                                                     load_index, run_queries)
from solr_mapreduce_indexer_spark.query.oracle import PandasOracle
from solr_mapreduce_indexer_spark.sources.transcripts import NEEDLES

CFG = IndexConfig(shards=2, reducers=-2)


@pytest.fixture(scope="module")
def index(spark, transcripts_df, transcripts_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("idx"))
    build_index(spark, transcripts_df, CFG, d, input_path="synthetic")
    return load_index(d)


@pytest.fixture(scope="module")
def oracle(transcripts_pdf):
    return PandasOracle(transcripts_pdf, shards=CFG.shards, partitions=CFG.shards)


def test_corpus_stats_match_oracle(index, oracle):
    assert index.n_docs == oracle.n_docs
    assert index.avgdl == pytest.approx(oracle.avgdl, abs=1e-9)


def test_doc_ids_match_independent_oracle(spark, index, oracle):
    got = (spark.read.parquet(index.docmap_path)
           .select("doc_id", "conv_id", "turn_idx")
           .toPandas().sort_values("doc_id").reset_index(drop=True))
    want = (oracle.docs[["doc_id", "conv_id", "turn_idx"]]
            .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(
        got.astype({"turn_idx": "int64"}), want.astype({"turn_idx": "int64"}))


def test_per_turn_text_integrity(spark, index, transcripts_df):
    """North-rule invariant: per-turn text equality between indexed docs and
    the source table under stable (conv_id, turn_idx) ordering."""
    dm = spark.read.parquet(index.docmap_path).select("conv_id", "turn_idx", "text_hash")
    src = transcripts_df.select("conv_id", "turn_idx",
                                F.xxhash64("text").alias("src_hash")).distinct()
    joined = dm.join(src, ["conv_id", "turn_idx"])
    n_match = joined.where(F.col("text_hash") == F.col("src_hash")).count()
    assert n_match == dm.count()


def test_postings_sorted_and_consistent(spark, index, oracle):
    seg = spark.read.parquet(index.postings_path).toPandas()
    # blocks of one (shard, term) have disjoint ascending ranges
    for (_, _t), g in seg.groupby(["shard_id", "term"]):
        g = g.sort_values("first_doc")
        assert (g["first_doc"] <= g["last_doc"]).all()
        assert (g["last_doc"].to_numpy()[:-1] < g["first_doc"].to_numpy()[1:]).all()
    # df per term (distinct docs) matches oracle term map
    n_per_term = seg.groupby("term")["n"].sum()
    for term, n in n_per_term.items():
        assert n == len(oracle.tf[term]), term


def test_tf_reconstruction_sample(spark, index, oracle):
    from solr_mapreduce_indexer_spark.index.codec import decode_block
    seg = spark.read.parquet(index.postings_path)
    for term in [NEEDLES[0], "tok00000", "tok00001"]:
        blocks = seg.where(F.col("term") == term).toPandas().sort_values("first_doc")
        want = oracle.tf.get(term, {})
        got = {}
        for r in blocks.itertuples(index=False):
            d, t = decode_block(r.doc_bytes, r.tf_bytes, r.first_doc)
            got.update(dict(zip(d.tolist(), t.tolist())))
        assert got == want, term


GOLDEN = [
    {"query_id": 0, "terms": [NEEDLES[0]], "mode": "AND", "k": 10},
    {"query_id": 1, "terms": [NEEDLES[0], NEEDLES[1]], "mode": "OR", "k": 10},
    {"query_id": 2, "terms": ["tok00000", "tok00001"], "mode": "AND", "k": 10},
    {"query_id": 3, "terms": ["tok00000", "tok00003", "tok00007"], "mode": "OR", "k": 10},
    {"query_id": 4, "terms": ["tok00000", "notinvocab"], "mode": "AND", "k": 10},
    {"query_id": 5, "terms": ["tok00000", "notinvocab"], "mode": "OR", "k": 10},
    {"query_id": 6, "terms": ["notinvocab"], "mode": "AND", "k": 10},
    {"query_id": 7, "terms": ["tok00002"], "mode": "AND", "k": 25},
    {"query_id": 8, "terms": [NEEDLES[2], "tok00000"], "mode": "AND", "k": 10},
]


def test_golden_queries_rank_identical(spark, index, oracle):
    got = run_queries(spark, index, GOLDEN).toPandas()
    for q in GOLDEN:
        g = got[got["query_id"] == q["query_id"]].sort_values("rank")
        w = oracle.score(q["terms"], q["mode"], q["k"])
        assert len(g) == len(w), f"q{q['query_id']}: {len(g)} vs {len(w)}"
        assert g["doc_id"].tolist() == w["doc_id"].tolist(), q
        np.testing.assert_allclose(g["score"].to_numpy(dtype=np.float64),
                                   w["score"].to_numpy(dtype=np.float64),
                                   atol=1e-9)
        assert g["conv_id"].tolist() == w["conv_id"].tolist()
        assert g["turn_idx"].tolist() == w["turn_idx"].tolist()


def test_single_query_helper(spark, index, oracle):
    got = bm25_topk(spark, index, [NEEDLES[1]], k=5).toPandas()
    want = oracle.score([NEEDLES[1]], "AND", 5)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()


def test_map_back_lists_only_hit_shards(spark, index, oracle, monkeypatch):
    """The docmap map-back lists only the `shard_id=m` directories of the
    hit docs' micro-shards (the listing load_doc_lens uses), never a
    root-level discovery of every directory, and returns the oracle's
    rows."""
    from solr_mapreduce_indexer_spark.query import bm25
    listed = []
    real = bm25.data_files

    def recording(path, subdirs):
        listed.append((path, list(subdirs)))
        return real(path, subdirs)

    monkeypatch.setattr(bm25, "data_files", recording)
    q = [{"query_id": 7, "terms": [NEEDLES[1]], "mode": "AND", "k": 5}]
    got = run_queries(spark, index, q).toPandas().sort_values("rank")
    want = oracle.score([NEEDLES[1]], "AND", 5)
    assert got["doc_id"].tolist() == want["doc_id"].tolist()
    assert got["conv_id"].tolist() == want["conv_id"].tolist()
    hit = sorted({f"shard_id={d >> index.cfg.doc_bits}" for d in got["doc_id"]})
    assert listed == [(index.docmap_path, hit)]
