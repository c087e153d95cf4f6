"""Streaming/incremental ingest: generation appends must be idempotent and,
after finalize, produce BM25 results identical to a direct batch build over
the same rows (same global stats, same scores — SURVEY §2.8 extension)."""

import pytest
from pyspark.sql import functions as F

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
from solr_mapreduce_indexer_spark.query.bm25 import bm25_topk, load_index
from solr_mapreduce_indexer_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA, synth_transcripts_pandas)
from solr_mapreduce_indexer_spark.streaming.ingest import (
    append_batch, finalize_stream_index, list_generations, stream_ingest)

CFG = IndexConfig(shards=2)
QUERIES = [(["tok00001", "tok00004"], "AND"),
           (["tok00000", "tok00007", "tok00031"], "OR"),
           (["zyzzyva"], "OR")]


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = synth_transcripts_pandas(n_convs=120, turns_per_conv=8,
                                   vocab_size=1200, seed=11)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    # split into 3 "arrival" batches by conversation
    bucket = F.abs(F.xxhash64("conv_id")) % 3
    return df, [df.where(bucket == i) for i in range(3)]


def _results(spark, idx_dir):
    h = load_index(idx_dir)
    out = []
    for terms, mode in QUERIES:
        rows = bm25_topk(spark, h, terms, k=10, mode=mode).collect()
        out.append([(r["conv_id"], r["turn_idx"], round(r["score"], 9))
                    for r in rows])
    return out


@pytest.fixture(scope="module")
def streamed(spark, corpus, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("stream") / "idx")
    _df, batches = corpus
    for gen, b in enumerate(batches):
        append_batch(spark, b, CFG, idx, gen=gen)
    finalize_stream_index(spark, idx, CFG)
    return idx


def test_generations_cover_all_rows(spark, corpus, streamed):
    df, _ = corpus
    gens = list_generations(streamed)
    assert len(gens) == 3
    assert sum(g["n_docs"] for g in gens) == df.count()
    for g in gens:  # the stats a generation records match its docmap
        tokens = spark.read.parquet(g["docmap"]).agg(F.sum("doc_len")).first()[0]
        assert g["total_tokens"] == tokens


def test_append_is_idempotent(spark, corpus, streamed):
    _df, batches = corpus
    before = list_generations(streamed)[1]
    again = append_batch(spark, batches[1], CFG, streamed, gen=1)
    assert again["n_docs"] == before["n_docs"]
    assert len(list_generations(streamed)) == 3


def test_stream_matches_direct_batch_build(spark, corpus, streamed,
                                           tmp_path_factory):
    df, _ = corpus
    direct = str(tmp_path_factory.mktemp("direct") / "idx")
    build_index(spark, df, CFG, direct, input_path="direct")
    assert _results(spark, streamed) == _results(spark, direct)


def test_finalize_records_duplicate_keys(spark, corpus, streamed):
    from solr_mapreduce_indexer_spark.index.manifest import read_manifest
    m = read_manifest(streamed)
    assert m["stats"]["duplicate_keys"] == 0
    # stats must equal the direct-build globals
    df, _ = corpus
    assert m["stats"]["n_docs"] == df.count()


def test_blockmax_bounds_sound_after_finalize(spark, streamed):
    from solr_mapreduce_indexer_spark.index.validate import validate_index
    report = validate_index(spark, streamed)
    assert report["ok"], report


def test_readstream_foreachbatch_e2e(spark, corpus, tmp_path_factory):
    """Real Structured Streaming plumbing: file-source readStream +
    availableNow trigger + exactly-once generation appends."""
    root = tmp_path_factory.mktemp("ss")
    landing, idx, ckpt = str(root / "landing"), str(root / "idx"), str(root / "ckpt")
    _df, batches = corpus
    for b in batches[:2]:
        b.write.mode("append").parquet(landing)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(landing)
    q = stream_ingest(spark, stream, CFG, idx, ckpt, availableNow=True)
    q.awaitTermination(timeout=300)
    gens = list_generations(idx)
    assert sum(g["n_docs"] for g in gens) == batches[0].count() + batches[1].count()
    finalize_stream_index(spark, idx, CFG)
    h = load_index(idx)
    assert bm25_topk(spark, h, ["tok00000"], k=5, mode="OR").count() == 5
