"""Property test of the query path: random small corpora × AND/OR/PHRASE × k,
answered by a built index and by `merge_indexes` of two indexes built from
disjoint halves of the corpus, must equal the independent oracles
(`PandasOracle` for AND/OR, `phrase_oracle` for PHRASE)."""

from __future__ import annotations

import tempfile

import pandas as pd
from conftest import assert_batch_matches_oracle
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
from solr_mapreduce_indexer_spark.index.merge import merge_indexes
from solr_mapreduce_indexer_spark.query.bm25 import load_index, run_queries
from solr_mapreduce_indexer_spark.query.oracle import PandasOracle
from solr_mapreduce_indexer_spark.sources.transcripts import TRANSCRIPT_SCHEMA

VOCAB = ["ant", "bee", "cat", "dog", "eel", "fox"]
CFG = IndexConfig(shards=2, reducers=2, positions=True)

texts = st.lists(st.lists(st.sampled_from(VOCAB), min_size=1, max_size=8)
                 .map(" ".join), min_size=4, max_size=24)
queries = st.lists(
    st.tuples(st.sampled_from(["AND", "OR", "PHRASE"]),
              st.lists(st.sampled_from(VOCAB + ["zzz"]), min_size=1,
                       max_size=3),
              st.integers(min_value=1, max_value=6)),
    min_size=1, max_size=6)


def _build(spark, pdf, path):
    build_index(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                CFG, path, input_path="synthetic")
    return path


def _run(spark, path, batch):
    return run_queries(spark, load_index(path), batch).toPandas()


@settings(max_examples=4, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts=texts, queries=queries)
def test_build_and_merge_match_oracles(spark, texts, queries):
    pdf = pd.DataFrame({
        "conv_id": [f"c{i // 3}" for i in range(len(texts))],
        "turn_idx": [i % 3 for i in range(len(texts))], "role": "user",
        "text": texts, "tool": None, "ts": pd.Timestamp("2024-01-01")})
    batch = [{"query_id": i, "terms": terms, "mode": mode, "k": k}
             for i, (mode, terms, k) in enumerate(queries)]
    oracle = PandasOracle(pdf, shards=1, partitions=1)
    half = pdf["conv_id"].str[1:].astype(int) % 2 == 0  # disjoint keys
    with tempfile.TemporaryDirectory() as d:
        whole = _build(spark, pdf, f"{d}/whole")
        merged = f"{d}/merged"
        merge_indexes(spark, [_build(spark, pdf[half], f"{d}/a"),
                              _build(spark, pdf[~half], f"{d}/b")], merged)
        for path in (whole, merged):
            assert_batch_matches_oracle(_run(spark, path, batch), oracle,
                                        batch)
