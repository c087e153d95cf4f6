"""The query plan: per-shard direct postings reads in one stage of packed
tasks. Results must equal the independent oracles (`PandasOracle` for
AND/OR, `phrase_oracle` for PHRASE); a bad batch, or storage pyarrow cannot
open, must raise on the driver before any Spark job launches."""

from __future__ import annotations

import pandas as pd
import pytest
from conftest import assert_batch_matches_oracle, settled_job_ids

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
from solr_mapreduce_indexer_spark.query import bm25
from solr_mapreduce_indexer_spark.query.oracle import PandasOracle
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


def _texts_pdf():
    rows = [(f"c{i}", 0, "user", t, None, pd.Timestamp("2024-01-01"))
            for i, t in enumerate(TEXTS)]
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                       "tool", "ts"])


@pytest.fixture(scope="module")
def pos_index(spark, tmp_path_factory):
    df = spark.createDataFrame(_texts_pdf(), schema=TRANSCRIPT_SCHEMA)
    d = str(tmp_path_factory.mktemp("idx_direct"))
    build_index(spark, df,
                IndexConfig(shards=2, reducers=4, positions=True),
                d, input_path="synthetic")
    return bm25.load_index(d)


def _run(spark, h, batch=BATCH):
    out = bm25.run_queries(spark, h, batch).toPandas()
    return out.sort_values(["query_id", "rank"]).reset_index(drop=True)


def test_batch_matches_oracles(spark, pos_index):
    got = _run(spark, pos_index)
    assert len(got)  # non-degenerate batch
    assert_batch_matches_oracle(
        got, PandasOracle(_texts_pdf(), shards=1, partitions=1), BATCH)


def test_batch_runs_without_python_rdd(spark, pos_index, monkeypatch):
    """The shard stage's rows come from a JVM-side range and the results
    from a local relation: with `SparkContext.parallelize` raising, a batch
    still matches the oracles and an empty result still reads as 0 rows.
    A Python RDD source would run a second Python worker in every task."""
    from pyspark import SparkContext

    def boom(*a, **kw):  # noqa: ANN002, ANN003
        raise AssertionError("SparkContext.parallelize called")

    monkeypatch.setattr(SparkContext, "parallelize", boom)
    got = _run(spark, pos_index)
    assert len(got)
    assert_batch_matches_oracle(
        got, PandasOracle(_texts_pdf(), shards=1, partitions=1), BATCH)
    for q in ({"query_id": 0, "terms": ["absentterm"], "mode": "OR", "k": 3},
              {"query_id": 0, "terms": ["lazy", "cat"], "mode": "AND",
               "k": 3}):
        out = bm25.run_queries(spark, pos_index, [q])
        assert out.count() == 0
        assert out.schema.simpleString() == (
            "struct<query_id:bigint,rank:int,doc_id:bigint,conv_id:string,"
            "turn_idx:int,score:double>")


def test_handle_carries_served_level_shard_ids(pos_index):
    assert pos_index.shard_ids == (0, 1)


def _jobs_during(spark, fn):
    """(Spark job ids launched while fn() runs, fn's result)."""
    sc, group = spark.sparkContext, "jobs-during"
    before = settled_job_ids(sc, group)
    sc.setJobGroup(group, "counted jobs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return settled_job_ids(sc, group) - before, out


def test_pyarrow_open_error_raises_on_driver(spark, pos_index, monkeypatch):
    """Storage visible to Spark but not pyarrow (credential split): the
    error pyarrow raises surfaces from run_queries on the driver, at the df
    lookup, with no Spark job launched — there is no Spark fallback."""
    import pyarrow.dataset as pads

    def boom(*a, **kw):  # noqa: ANN002, ANN003
        raise OSError("no credentials for this filesystem")

    monkeypatch.setattr(pads, "dataset", boom)

    def run():
        with pytest.raises(OSError, match="no credentials"):
            bm25.run_queries(spark, pos_index, BATCH)
    assert _jobs_during(spark, run)[0] == set()


@pytest.mark.parametrize("bad", [
    {"mode": "and"}, {"mode": "phrase"}, {"mode": "XOR"},
    {"k": 0}, {"k": -3}, {"query_id": 0},
    {"terms": "quick brown"}, {"terms": "quick brown", "mode": "PHRASE"},
    {"terms": ["quick", 3]}, {"terms": None},
], ids=["lower-and", "lower-phrase", "unknown-mode", "k0", "k-negative",
        "duplicate-query-id", "string-terms", "string-phrase-terms",
        "non-string-term", "none-terms"])
def test_bad_batch_raises_before_any_job(spark, pos_index, bad):
    """An unknown mode (the kernel would score it as OR), k < 1 (it would
    only trip the collect bound), a repeated query_id (two queries would
    merge into one ranking) and terms that are not a list or tuple of
    strings (a string would be scored letter by letter) raise ValueError
    before any job launches."""
    batch = [{"query_id": 0, "terms": ["quick"], "mode": "OR", "k": 3},
             {"query_id": 2, "terms": ["quick", "brown"], "mode": "AND",
              "k": 3, **{k: v for k, v in bad.items() if k != "query_id"}},
             {"query_id": bad.get("query_id", 3), "terms": ["dog"],
              "mode": "OR", "k": 2}]

    def run():
        with pytest.raises(ValueError, match="mode|k must|query_id|terms"):
            bm25.run_queries(spark, pos_index, batch)
    assert _jobs_during(spark, run)[0] == set()


def test_empty_terms_return_no_rows(spark, pos_index):
    out = bm25.run_queries(spark, pos_index,
                           [{"query_id": 0, "terms": [], "mode": "AND",
                             "k": 3}])
    assert out.count() == 0


def test_direct_plan_has_no_shuffle_before_kernel(spark, pos_index):
    """The candidate stage must be a single mapInPandas over the shard list,
    with no Exchange node below it: no shuffle moves payload bytes."""
    qs = [{"query_id": 0, "terms": ["quick"], "mode": "OR", "k": 3}]
    from solr_mapreduce_indexer_spark.query.bm25 import (_direct_fetch_gen,
                                                         _score_shard_kernel,
                                                         idf)
    kernel = _score_shard_kernel(qs, {"quick": idf(pos_index.n_docs, 5)},
                                 pos_index.avgdl, pos_index.cfg.k1,
                                 pos_index.cfg.b, pos_index.docmap_path)
    cand = bm25._shard_rows(spark, pos_index.shard_ids).mapInPandas(
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


def test_batch_runs_one_wave_of_packed_shards(spark, tmp_path):
    """An index with 8 served shards answers a batch with ONE candidate
    stage of min(8, defaultParallelism) tasks — several shards per task —
    and the oracles' top k for AND, OR and PHRASE."""
    from solr_mapreduce_indexer_spark.sources.transcripts import (
        synth_transcripts_pandas)
    pdf = synth_transcripts_pandas(n_convs=80, turns_per_conv=4, seed=5)
    h = _positional_synth_index(spark, str(tmp_path / "idx8"), pdf,
                                IndexConfig(shards=8, positions=True))
    assert len(h.shard_ids) == 8
    batch = _synth_batch(pdf)
    # run_queries' result is local data: its jobs all run inside the call
    jobs, res = _jobs_during(spark, lambda: bm25.run_queries(spark, h, batch))
    sc = spark.sparkContext
    tr = sc.statusTracker()
    stages = [tr.getStageInfo(s) for j in sorted(jobs)
              for s in tr.getJobInfo(j).stageIds]
    assert [st.numTasks for st in stages] == [min(8, sc.defaultParallelism)]

    got = res.toPandas()
    got = got.sort_values(["query_id", "rank"]).reset_index(drop=True)
    assert set(got["query_id"]) == {0, 1, 2, 3}
    assert_batch_matches_oracle(got, PandasOracle(pdf, shards=1, partitions=1),
                                batch)


def test_merged_multi_file_shards_equal_union_build(spark, tmp_path):
    """A merge_indexes result serves shard directories holding several
    files, whose rows reach the kernel in file order rather than
    (term, first_doc) order; a PHRASE + AND batch on it must equal the
    union build's. The inputs serve max_segments=2 files per shard (a
    build's last merge level writes at most max_segments), which the
    merge copies."""
    import glob

    from solr_mapreduce_indexer_spark.index.merge import merge_indexes
    from solr_mapreduce_indexer_spark.sources.transcripts import (
        synth_transcripts_pandas)
    pdf_a = synth_transcripts_pandas(n_convs=60, turns_per_conv=4, seed=1)
    pdf_b = synth_transcripts_pandas(n_convs=50, turns_per_conv=4, seed=2)
    pdf_b["conv_id"] = "b" + pdf_b["conv_id"]  # disjoint keys
    cfg = IndexConfig(shards=2, reducers=4, fanout=2, positions=True,
                      max_segments=2)
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
