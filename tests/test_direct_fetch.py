"""Direct per-shard postings reads (the default query plan) vs the legacy
scan+shuffle plan: results must be identical row-for-row, including PHRASE
queries on positional indexes, and the fallback must engage when pyarrow
cannot open the postings path."""

from __future__ import annotations

import pandas as pd
import pytest
from conftest import settled_job_ids

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
from solr_mapreduce_indexer_spark.query import bm25
from solr_mapreduce_indexer_spark.sources.transcripts import TRANSCRIPT_SCHEMA

TEXTS = [
    "quick brown fox jumps over the lazy dog",
    "the quick brown cat sat still",
    "brown quick reversed words here now",
    "quick brown quick brown quick brown",
    "nothing relevant at all in this one",
    "ends with quick brown",
    "quick then gap then brown apart",
    "the dog sat over the lazy fox",
    "a quick brown moment then another quick brown moment",
    "lazy lazy lazy dog dog brown",
]

BATCH = [
    {"query_id": 0, "terms": ["quick", "brown"], "mode": "AND", "k": 5},
    {"query_id": 1, "terms": ["lazy", "dog", "cat"], "mode": "OR", "k": 4},
    {"query_id": 2, "terms": ["quick", "brown"], "mode": "PHRASE", "k": 5},
    {"query_id": 3, "terms": ["absentterm"], "mode": "OR", "k": 3},
    {"query_id": 4, "terms": ["the", "fox"], "mode": "AND", "k": 10},
]


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    rows = [(f"c{i}", 0, "user", t, None, pd.Timestamp("2024-01-01"))
            for i, t in enumerate(TEXTS)]
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "ts"])
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    d = str(tmp_path_factory.mktemp("idx_direct"))
    build_index(spark, df,
                IndexConfig(shards=2, reducers=4, positions=True),
                d, input_path="synthetic")
    return bm25.load_index(d)


def _run(spark, h, batch=BATCH):
    out = bm25.run_queries(spark, h, batch).toPandas()
    return out.sort_values(["query_id", "rank"]).reset_index(drop=True)


def test_direct_and_legacy_plans_identical(spark, pos_index, monkeypatch):
    direct = _run(spark, pos_index)
    assert len(direct)  # non-degenerate batch
    monkeypatch.setattr(bm25, "DIRECT_FETCH", False)
    legacy = _run(spark, pos_index)
    pd.testing.assert_frame_equal(direct, legacy)


def test_handle_carries_served_level_shard_ids(pos_index):
    assert pos_index.shard_ids == (0, 1)


def test_fallback_when_pyarrow_cannot_open(spark, pos_index, monkeypatch):
    """Storage visible to Spark but not pyarrow (credential split): the
    driver-side probe must fail fast and route the batch to the legacy
    plan."""
    import pyarrow.dataset as pads

    real = pads.dataset

    def boom(*a, **kw):  # noqa: ANN002, ANN003
        raise OSError("no credentials for this filesystem")

    monkeypatch.setattr(pads, "dataset", boom)
    try:
        out = _run(spark, pos_index)
    finally:
        monkeypatch.setattr(pads, "dataset", real)
    # the docmap point-fetch also falls back (to a Spark read), so the
    # whole batch must still answer correctly
    expect = _run(spark, pos_index)
    pd.testing.assert_frame_equal(out, expect)


def test_direct_plan_has_no_shuffle_before_kernel(spark, pos_index):
    """The candidate stage must be a single mapInPandas over the shard list:
    no Exchange node below it (the legacy plan shuffles payload bytes)."""
    qs = [{"query_id": 0, "terms": ["quick"], "mode": "OR", "k": 3}]
    from pyspark.sql import functions as F

    from solr_mapreduce_indexer_spark.query.bm25 import (_direct_fetch_gen,
                                                         _score_shard_kernel,
                                                         idf)
    kernel = _score_shard_kernel(qs, {"quick": idf(pos_index.n_docs, 5)},
                                 pos_index.avgdl, pos_index.cfg.k1,
                                 pos_index.cfg.b, pos_index.docmap_path)
    sdf = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(int(s),) for s in pos_index.shard_ids],
            len(pos_index.shard_ids)), "shard_id int")
    cand = sdf.mapInPandas(
        _direct_fetch_gen(pos_index.postings_path, ["quick"], [], kernel),
        schema="query_id long, doc_id long, score double")
    plan = cand._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# --- one wave: shards packed per core; several files per shard directory ---

def _positional_synth_index(spark, path, pdf, cfg):
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    build_index(spark, df, cfg, path, input_path="synthetic")
    return bm25.load_index(path)


def _synth_batch(pdf):
    first = pdf["text"].iloc[0].split()
    return [
        {"query_id": 0, "terms": ["tok00000", "tok00003"], "mode": "AND",
         "k": 7},
        {"query_id": 1, "terms": ["tok00002", "tok00013", "zyzzyva"],
         "mode": "OR", "k": 9},
        {"query_id": 2, "terms": first[:2], "mode": "PHRASE", "k": 1000},
        {"query_id": 3, "terms": ["tok00000", "tok00001"], "mode": "PHRASE",
         "k": 1000},
    ]


def test_batch_runs_one_wave_of_packed_shards(spark, tmp_path, monkeypatch):
    """An index with 8 served shards answers a batch with ONE candidate
    stage of min(8, defaultParallelism) tasks — several shards per task —
    and the same rows as the legacy plan for AND, OR and PHRASE."""
    from solr_mapreduce_indexer_spark.sources.transcripts import (
        synth_transcripts_pandas)
    pdf = synth_transcripts_pandas(n_convs=80, turns_per_conv=4, seed=5)
    h = _positional_synth_index(spark, str(tmp_path / "idx8"), pdf,
                                IndexConfig(shards=8, positions=True))
    assert len(h.shard_ids) == 8
    batch = _synth_batch(pdf)
    sc, group = spark.sparkContext, "packed-query"
    before = settled_job_ids(sc, group)
    sc.setJobGroup(group, "packed query batch")
    try:
        res = bm25.run_queries(spark, h, batch)  # its result is local data
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tr = sc.statusTracker()
    stages = [tr.getStageInfo(s) for j in sorted(settled_job_ids(sc, group)
                                                 - before)
              for s in tr.getJobInfo(j).stageIds]
    assert [st.numTasks for st in stages] == [min(8, sc.defaultParallelism)]

    direct = res.toPandas()
    direct = direct.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert set(direct["query_id"]) == {0, 1, 2, 3}
    monkeypatch.setattr(bm25, "DIRECT_FETCH", False)
    legacy = _run(spark, h, batch)
    pd.testing.assert_frame_equal(direct, legacy)


def test_merged_multi_file_shards_equal_union_build(spark, tmp_path):
    """A merge_indexes result serves shard directories holding several
    files, whose rows reach the kernel in file order rather than
    (term, first_doc) order; a PHRASE + AND batch on it must equal the
    union build's."""
    import glob

    from solr_mapreduce_indexer_spark.index.merge import merge_indexes
    from solr_mapreduce_indexer_spark.sources.transcripts import (
        synth_transcripts_pandas)
    pdf_a = synth_transcripts_pandas(n_convs=60, turns_per_conv=4, seed=1)
    pdf_b = synth_transcripts_pandas(n_convs=50, turns_per_conv=4, seed=2)
    pdf_b["conv_id"] = "b" + pdf_b["conv_id"]  # disjoint keys
    cfg = IndexConfig(shards=2, reducers=4, fanout=2, positions=True)
    ia, ib = str(tmp_path / "a"), str(tmp_path / "b")
    _positional_synth_index(spark, ia, pdf_a, cfg)
    _positional_synth_index(spark, ib, pdf_b, cfg)
    merge_indexes(spark, [ia, ib], str(tmp_path / "merged"))
    hm = bm25.load_index(str(tmp_path / "merged"))
    assert all(len(glob.glob(f"{hm.postings_path}/shard_id={s}/*.parquet")) > 1
               for s in hm.shard_ids)
    hu = _positional_synth_index(spark, str(tmp_path / "union"),
                                 pd.concat([pdf_a, pdf_b], ignore_index=True),
                                 cfg)
    batch = [q for q in _synth_batch(pdf_a) if q["mode"] != "OR"]
    batch[0]["k"] = 1000  # no ties cut at k: doc ids differ between builds

    def key(out):
        return sorted(zip(out["query_id"], out["conv_id"], out["turn_idx"],
                          out["score"].round(9)))
    got, want = _run(spark, hm, batch), _run(spark, hu, batch)
    assert set(got["query_id"]) == {0, 2, 3}
    assert key(got) == key(want)
