"""Merge-equivalence + resume (FIXTURES.md §6, mirroring the reference's
mtree-correctness claim, IndexMergeTool.java:207-235)."""

import glob
import json
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import settled_job_ids
from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
from solr_mapreduce_indexer_spark.index.manifest import checkpoint_path, read_manifest
from solr_mapreduce_indexer_spark.query.bm25 import load_index, run_queries
from solr_mapreduce_indexer_spark.sources.transcripts import NEEDLES

QUERIES = [
    {"query_id": 0, "terms": [NEEDLES[0]], "mode": "AND", "k": 10},
    {"query_id": 1, "terms": ["tok00000", "tok00002"], "mode": "AND", "k": 10},
    {"query_id": 2, "terms": ["tok00001", NEEDLES[1]], "mode": "OR", "k": 10},
]


@pytest.fixture(scope="module")
def direct_idx(spark, transcripts_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("direct"))
    build_index(spark, transcripts_df, IndexConfig(shards=2, reducers=-2), d)
    return d


@pytest.fixture(scope="module")
def merged_idx(spark, transcripts_df, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("merged"))
    build_index(spark, transcripts_df,
                IndexConfig(shards=2, reducers=8, fanout=2), d)
    return d


def _results(spark, idx_dir):
    res = run_queries(spark, load_index(idx_dir), QUERIES).toPandas()
    # compare by externally-meaningful identity; sort out tie-order noise
    return (res.assign(score=res["score"].round(9))
               .sort_values(["query_id", "score", "conv_id", "turn_idx"],
                            ascending=[True, False, True, True])
               [["query_id", "conv_id", "turn_idx", "score"]]
               .reset_index(drop=True))


def test_merge_tree_shape(spark, merged_idx):
    m = read_manifest(merged_idx)
    assert [l["n_shards"] for l in m["levels"]] == [8, 4, 2]
    # every level checkpoint carries per-shard lineage/metrics
    for lvl in m["levels"]:
        assert all("n_postings" in s for s in lvl["segments"])


def test_merged_equals_direct(spark, direct_idx, merged_idx):
    md, mm = read_manifest(direct_idx), read_manifest(merged_idx)
    assert md["stats"] == mm["stats"]
    a = _results(spark, direct_idx)
    b = _results(spark, merged_idx)
    assert a["conv_id"].tolist() == b["conv_id"].tolist()
    assert a["turn_idx"].tolist() == b["turn_idx"].tolist()
    np.testing.assert_allclose(a["score"], b["score"], atol=1e-9)


def test_merged_posting_counts_match(spark, direct_idx, merged_idx):
    pa = (spark.read.parquet(os.path.join(direct_idx, "segments", "level_0"))
          .groupBy("term").agg(F.sum("n").alias("n")).toPandas()
          .set_index("term")["n"].sort_index())
    pb = (spark.read.parquet(read_manifest(merged_idx)["levels"][-1]["path"])
          .groupBy("term").agg(F.sum("n").alias("n")).toPandas()
          .set_index("term")["n"].sort_index())
    assert pa.equals(pb)


def test_resume_after_partial_merge(spark, transcripts_df, merged_idx, tmp_path_factory):
    """Kill-after-level-1 simulation: drop the level_2 checkpoint + manifest,
    rerun; earlier phases must be reused (not rebuilt), results identical."""
    before = _results(spark, merged_idx)
    os.remove(checkpoint_path(merged_idx, "level_2"))
    os.remove(os.path.join(merged_idx, "manifest.json"))
    docmap_mtime = {p: os.path.getmtime(p) for p in
                    glob.glob(os.path.join(merged_idx, "docmap", "**", "*.parquet"),
                              recursive=True)}
    build_index(spark, transcripts_df,
                IndexConfig(shards=2, reducers=8, fanout=2), merged_idx)
    after_mtime = {p: os.path.getmtime(p) for p in docmap_mtime}
    assert docmap_mtime == after_mtime, "docmap was rebuilt on resume"
    after = _results(spark, merged_idx)
    assert before.equals(after)


def test_merge_independent_indexes_matches_union_build(spark, tmp_path):
    """merge_indexes over two independently built indexes must answer
    queries with the SAME (conv_id, turn_idx, score) results as one index
    built over the union of their inputs (BM25 depends on tf/dl/df/N/avgdl —
    all identical; only doc-id assignment differs)."""
    from solr_mapreduce_indexer_spark.config import IndexConfig
    from solr_mapreduce_indexer_spark.index.build import build_index
    from solr_mapreduce_indexer_spark.index.merge import merge_indexes
    from solr_mapreduce_indexer_spark.index.validate import validate_index
    from solr_mapreduce_indexer_spark.query.bm25 import bm25_topk, load_index
    from solr_mapreduce_indexer_spark.sources.transcripts import (
        synth_transcripts_pandas, TRANSCRIPT_SCHEMA)

    pdf_a = synth_transcripts_pandas(n_convs=60, turns_per_conv=4, seed=1)
    pdf_b = synth_transcripts_pandas(n_convs=50, turns_per_conv=4, seed=2)
    pdf_b["conv_id"] = "b" + pdf_b["conv_id"]  # disjoint keys
    df_a = spark.createDataFrame(pdf_a, schema=TRANSCRIPT_SCHEMA)
    df_b = spark.createDataFrame(pdf_b, schema=TRANSCRIPT_SCHEMA)

    cfg = IndexConfig(shards=2, reducers=4, fanout=2)
    ia, ib = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, df_a, cfg, ia)
    build_index(spark, df_b, cfg, ib)
    merged_dir = str(tmp_path / "merged")
    m = merge_indexes(spark, [ia, ib], merged_dir)
    assert m["shards"] == 4
    assert m["stats"]["n_docs"] == len(pdf_a) + len(pdf_b)

    union_dir = str(tmp_path / "union")
    build_index(spark, df_a.unionByName(df_b), cfg, union_dir)

    hm, hu = load_index(merged_dir), load_index(union_dir)
    for terms, mode in ([["tok00001", "tok00005"], "OR"],
                        [["tok00000", "tok00002"], "AND"],
                        [["zyzzyva"], "OR"]):
        got = bm25_topk(spark, hm, terms, k=15, mode=mode).collect()
        want = bm25_topk(spark, hu, terms, k=15, mode=mode).collect()
        key = lambda r: (round(r["score"], 9), r["conv_id"], r["turn_idx"])
        assert sorted(map(key, got)) == sorted(map(key, want)), (terms, mode)

    # the merged index passes full read-back validation (df/cf, doc_len
    # cross-check, block bounds under the merged avgdl)
    assert validate_index(spark, merged_dir)["ok"]
    # disjoint keys: no tombstones, and no empty tombstones directory
    assert "tombstones" not in m
    assert not os.path.exists(os.path.join(merged_dir, "tombstones"))


# --- job budgets (merge, stream append+finalize), carried metrics, schemas ---

MERGE_JOB_BUDGET = 10
APPEND_JOB_BUDGET = 4
FINALIZE_JOB_BUDGET = 14


@pytest.fixture(scope="module")
def merge_inputs(spark, tmp_path_factory):
    """A batch index with a merge tree ("a"), a merge-less one that re-ingests
    six of its keys ("b"), their merge ("ab", with tombstones) and an index
    with no docs ("empty")."""
    from solr_mapreduce_indexer_spark.index.merge import merge_indexes
    from solr_mapreduce_indexer_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA, synth_transcripts_pandas)

    tmp = tmp_path_factory.mktemp("merge_inputs")
    pdf_a = synth_transcripts_pandas(n_convs=40, turns_per_conv=4,
                                     vocab_size=300, seed=3)
    pdf_b = synth_transcripts_pandas(n_convs=30, turns_per_conv=4,
                                     vocab_size=300, seed=4)
    pdf_b["conv_id"] = "b" + pdf_b["conv_id"]
    for col in ("conv_id", "turn_idx"):
        pdf_b.loc[:5, col] = pdf_a.loc[:5, col].to_numpy()
    dirs = {k: str(tmp / k) for k in ("a", "b", "ab", "empty")}
    build_index(spark, spark.createDataFrame(pdf_a, schema=TRANSCRIPT_SCHEMA),
                IndexConfig(shards=2, reducers=4, fanout=2), dirs["a"])
    build_index(spark, spark.createDataFrame(pdf_b, schema=TRANSCRIPT_SCHEMA),
                IndexConfig(shards=2), dirs["b"])
    build_index(spark, spark.createDataFrame([], schema=TRANSCRIPT_SCHEMA),
                IndexConfig(shards=2), dirs["empty"])
    merge_indexes(spark, [dirs["a"], dirs["b"]], dirs["ab"])
    return dirs, pdf_a


def _jobs_by_phase(spark, cut_at, fn):
    """Run fn() at the benchmark session's 2 shuffle partitions (from 8 on,
    term_stats' range-partitioned write adds one sampling job) and count its
    Spark jobs from statusTracker group and ungrouped ids. Every call of a
    (module, name) in cut_at starts and ends a sub-phase. Returns fn's
    result, the total and the job count of each sub-phase in order."""
    sc, group = spark.sparkContext, "job-budget"
    cuts = [settled_job_ids(sc, group)]

    def counting(inner):
        def counted(*a, **kw):
            cuts.append(settled_job_ids(sc, group))
            out = inner(*a, **kw)
            cuts.append(settled_job_ids(sc, group))
            return out
        return counted

    parts = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.MonkeyPatch.context() as mp:
        for mod, name in cut_at:
            mp.setattr(mod, name, counting(getattr(mod, name)))
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        sc.setJobGroup(group, "job budget")
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            spark.conf.set("spark.sql.shuffle.partitions", parts)
    cuts.append(settled_job_ids(sc, group))
    return (out, len(cuts[-1] - cuts[0]),
            [len(hi - lo) for lo, hi in zip(cuts[:-1], cuts[1:])])


def test_merge_indexes_job_budget(spark, merge_inputs, tmp_path):
    """merge_indexes runs no exchange for the rewrite, no re-scan for segment
    metrics and no schema-inference job, and writes the duplicate-key losers
    once; jobs are attributed to sub-phases so a regression names the one
    that grew."""
    from solr_mapreduce_indexer_spark.index import merge

    dirs, _ = merge_inputs
    m, total, per = _jobs_by_phase(
        spark, [(merge, "write_term_stats"), (merge, "resolve_duplicate_keys")],
        lambda: merge.merge_indexes(spark, [dirs["a"], dirs["b"]],
                                    str(tmp_path / "m")))
    assert m["stats"]["n_tombstones"] == 6

    labels = ["docmap+postings rewrite", "term_stats", "between",
              "duplicate keys", "metrics+manifest"]
    per_phase = dict(zip(labels, per))
    assert total <= MERGE_JOB_BUDGET, (
        f"merge_indexes ran {total} Spark jobs per call (budget "
        f"{MERGE_JOB_BUDGET}); per sub-phase: {per_phase}")
    assert per_phase["metrics+manifest"] == 0, per_phase


def test_stream_finalize_job_budget(spark, merge_inputs, tmp_path):
    """append_batch takes its stats from the docmap write, and
    finalize_stream_index concatenates three generations through
    concat_segments: no schema inference, no docmap exchange, one postings
    exchange, and one file per served shard."""
    from solr_mapreduce_indexer_spark.index import merge
    from solr_mapreduce_indexer_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA)
    from solr_mapreduce_indexer_spark.streaming import ingest

    _, pdf_a = merge_inputs
    cfg, idx = IndexConfig(shards=2), str(tmp_path / "stream")
    df = spark.createDataFrame(pdf_a, schema=TRANSCRIPT_SCHEMA)
    third = F.abs(F.xxhash64("conv_id")) % 3
    for gen in range(3):
        ck, total, _ = _jobs_by_phase(spark, [], lambda: ingest.append_batch(
            spark, df.where(third == gen), cfg, idx, gen=gen))
        assert ck["n_docs"] > 0
        assert total <= APPEND_JOB_BUDGET, (
            f"append_batch ran {total} Spark jobs for generation {gen} "
            f"(budget {APPEND_JOB_BUDGET})")

    m, total, per = _jobs_by_phase(
        spark, [(merge, "write_term_stats"), (merge, "resolve_duplicate_keys"),
                (ingest, "segment_metrics")],
        lambda: ingest.finalize_stream_index(spark, idx, cfg))
    labels = ["docmap+postings concat", "term_stats", "between term_stats "
              "and duplicate keys", "duplicate keys", "between duplicate "
              "keys and segment_metrics", "segment_metrics", "manifest"]
    per_phase = dict(zip(labels, per))
    assert total <= FINALIZE_JOB_BUDGET, (
        f"finalize_stream_index ran {total} Spark jobs over 3 generations "
        f"(budget {FINALIZE_JOB_BUDGET}); per sub-phase: {per_phase}")
    assert per_phase["manifest"] == 0, per_phase
    assert m["stats"]["n_docs"] == len(pdf_a)

    shard_dirs = glob.glob(os.path.join(m["levels"][-1]["path"], "shard_id=*"))
    assert len(shard_dirs) == cfg.shards
    for d in shard_dirs:
        assert len(glob.glob(os.path.join(d, "*.parquet"))) == 1, d


@pytest.mark.parametrize("kind", ["batch", "merged_of_merged", "compacted",
                                  "stream_finalized"])
def test_carried_segments_equal_fresh_scan(spark, merge_inputs, tmp_path, kind):
    """The final level's segments, carried over from the input manifests and
    re-tagged, equal a fresh segment_metrics scan of the merged level."""
    import shutil

    from solr_mapreduce_indexer_spark.index.build import segment_metrics
    from solr_mapreduce_indexer_spark.index.merge import (compact_final,
                                                          merge_indexes)
    from solr_mapreduce_indexer_spark.index.validate import validate_index
    from solr_mapreduce_indexer_spark.sources.transcripts import (
        TRANSCRIPT_SCHEMA)
    from solr_mapreduce_indexer_spark.streaming.ingest import (
        append_batch, finalize_stream_index)

    dirs, pdf_a = merge_inputs
    out = dirs["ab"]  # batch inputs
    if kind != "batch":
        first = dirs["ab"]
        if kind == "compacted":
            first = str(tmp_path / "compacted")
            shutil.copytree(dirs["ab"], first)
            compact_final(spark, first)
        elif kind == "stream_finalized":
            first, cfg = str(tmp_path / "stream"), IndexConfig(shards=2)
            df = spark.createDataFrame(pdf_a, schema=TRANSCRIPT_SCHEMA)
            half = F.abs(F.xxhash64("conv_id")) % 2
            for gen in range(2):
                append_batch(spark, df.where(half == gen), cfg, first, gen=gen)
            finalize_stream_index(spark, first, cfg)
        out = str(tmp_path / "out")
        merge_indexes(spark, [first, dirs["b"]], out)
    final = read_manifest(out)["levels"][-1]
    assert final["segments"] == segment_metrics(spark, final["path"])
    assert validate_index(spark, out)["ok"]


def test_docmap_schema_matches_written_docmap(spark, merge_inputs):
    from solr_mapreduce_indexer_spark.index.build import DOCMAP_SCHEMA

    path = os.path.join(merge_inputs[0]["a"], "docmap")
    assert (spark.read.schema(DOCMAP_SCHEMA).parquet(path).schema
            == spark.read.parquet(path).schema)


def test_merge_with_empty_docmap_input(spark, merge_inputs, tmp_path):
    """An input without docs has no docmap partitions: micro-shard width 0,
    its shard range stays empty, and the other input serves as before."""
    from solr_mapreduce_indexer_spark.index.merge import merge_indexes
    from solr_mapreduce_indexer_spark.index.validate import validate_index

    dirs, _ = merge_inputs
    out = str(tmp_path / "m")
    m = merge_indexes(spark, [dirs["empty"], dirs["b"]], out)
    mb = read_manifest(dirs["b"])
    assert m["stats"]["n_docs"] == mb["stats"]["n_docs"]
    assert m["levels"][-1]["lineage"]["micro_offsets"] == [0, 0]
    assert ({s["shard_id"] for s in m["levels"][-1]["segments"]}
            == {s["shard_id"] + 2 for s in mb["levels"][-1]["segments"]})
    a = _results(spark, dirs["b"])
    b = _results(spark, out)
    assert a.equals(b)
    assert validate_index(spark, out)["ok"]
