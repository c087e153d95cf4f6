"""Micro-shards are placed by id. prepare_docs puts micro-shard m in
partition m mod P, P = min(R, spark.sql.shuffle.partitions), so the level-0
kernel runs P tasks that each build several micro-shards, and every posting
file the engine writes stays sorted by (term, first_doc): level 0, an
`append_batch` generation, a finalized stream level and a compacted level.
A task retry that rebuilds several micro-shards writes and counts nothing
twice."""

from __future__ import annotations

import contextlib
import glob
import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest
from conftest import settled_job_ids
from pyspark.sql import functions as F

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index import build
from solr_mapreduce_indexer_spark.index.manifest import read_manifest
from solr_mapreduce_indexer_spark.index.merge import compact_final
from solr_mapreduce_indexer_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA, synth_transcripts_pandas)
from solr_mapreduce_indexer_spark.streaming import ingest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# R=16 micro-shards, one merge level to S=4 served shards
R16 = IndexConfig(shards=4, reducers=16, fanout=4)


def _files_by_shard(level_path):
    dirs = sorted(glob.glob(os.path.join(level_path, "shard_id=*")))
    return {d: sorted(glob.glob(os.path.join(d, "*.parquet"))) for d in dirs}


def assert_sorted_layout(level_path, n_shards, max_files=1):
    """`n_shards` shard directories of 1 to `max_files` files, each file
    sorted by (term, first_doc)."""
    files = _files_by_shard(level_path)
    assert len(files) == n_shards, sorted(files)
    for d, fs in files.items():
        assert 1 <= len(fs) <= max_files, (d, fs)
        for f in fs:
            t = pq.read_table(f, columns=["term", "first_doc"]).to_pandas()
            s = t.sort_values(["term", "first_doc"], kind="stable")
            assert t.equals(s.reset_index(drop=True)), f


@contextlib.contextmanager
def session_conf(spark, key, value):
    before = spark.conf.get(key)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        spark.conf.set(key, before)


# Compaction with several groupBy tasks, as at scale: AQE would otherwise
# coalesce this small input's groupBy into one task, whose output reaches
# each compaction task already in (shard_id, term) order.
NO_COALESCE = ("spark.sql.adaptive.coalescePartitions.enabled", "false")


@pytest.fixture(scope="module")
def corpus(spark):
    pdf = synth_transcripts_pandas(n_convs=120, turns_per_conv=4,
                                   vocab_size=1500, seed=21)
    return pdf, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


@pytest.fixture(scope="module")
def packed_build(spark, corpus, tmp_path_factory):
    """An R=16 build and the ids of the Spark jobs of its level-0 write:
    those launched between the build_postings call and the first
    segment_metrics call (level 0's)."""
    _, df = corpus
    sc, group, cuts = spark.sparkContext, "level0-tasks", []

    def cut(inner):
        def wrapped(*a, **kw):
            if len(cuts) < 2:
                cuts.append(settled_job_ids(sc, group))
            return inner(*a, **kw)
        return wrapped

    d = str(tmp_path_factory.mktemp("packed") / "idx")
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(build, "build_postings", cut(build.build_postings))
        mp.setattr(build, "segment_metrics", cut(build.segment_metrics))
        build.build_index(spark, df, R16, d, input_path="synthetic")
    return d, cuts[1] - cuts[0]


def test_level0_runs_one_task_per_packed_partition(spark, packed_build):
    """At R=16 the level-0 write is one stage of min(16, shuffle
    partitions) tasks, and level 0 and the docmap hold one file per
    micro-shard directory."""
    d, jobs = packed_build
    assert R16.plan_build_partitions()[0] == 16
    tr = spark.sparkContext.statusTracker()
    ran = [st for st in (tr.getStageInfo(s) for j in sorted(jobs)
                         for s in tr.getJobInfo(j).stageIds)
           if st is not None and st.numCompletedTasks > 0]
    width = min(16, int(spark.conf.get("spark.sql.shuffle.partitions")))
    assert width < 16  # several micro-shards per task
    assert [st.numTasks for st in ran] == [width]
    for sub in ("docmap", os.path.join("segments", "level_0")):
        files = _files_by_shard(os.path.join(d, sub))
        assert len(files) == 16, sub
        assert all(len(fs) == 1 for fs in files.values()), files


def test_prepare_docs_places_micro_shards_by_id(spark, corpus):
    """Micro-shard m lands in partition m mod P behind one exchange."""
    _, df = corpus
    docs = build.prepare_docs(df, R16, 16)
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    got = {(r["shard_id"], r["p"]) for r in
           docs.select("shard_id", F.spark_partition_id().alias("p"))
               .distinct().collect()}
    assert got == {(m, m % width) for m in range(16)}


def test_posting_files_sorted_one_per_shard(spark, corpus, packed_build,
                                            tmp_path):
    """Level 0 of a packed build, an append_batch generation and a
    finalized stream level written with several shards per task, and the
    compacted final level: every file is sorted by (term, first_doc), one
    file per shard directory (at most max_segments after compaction)."""
    pdf, df = corpus
    d, _ = packed_build
    assert_sorted_layout(os.path.join(d, "segments", "level_0"), 16)

    cfg = IndexConfig(shards=4)
    idx = str(tmp_path / "stream")
    half = F.abs(F.xxhash64("conv_id")) % 2
    # 2 shards per task
    with session_conf(spark, "spark.sql.shuffle.partitions", "2"):
        for gen in range(2):
            ingest.append_batch(spark, df.where(half == gen), cfg, idx, gen)
        for gen in range(2):
            assert_sorted_layout(os.path.join(idx, "segments", f"gen_{gen}"),
                                 cfg.shards)
        m = ingest.finalize_stream_index(spark, idx, cfg)
    assert m["stats"]["n_docs"] == len(pdf)
    assert_sorted_layout(m["levels"][-1]["path"], cfg.shards)

    with session_conf(spark, *NO_COALESCE):
        m = compact_final(spark, d)
    assert m["levels"][-1]["compacted"]
    assert_sorted_layout(m["levels"][-1]["path"], R16.shards)


def test_merge_levels_sorted(spark, corpus, tmp_path):
    """A two-level tree (S=2, R=8, F=2): every file of the inner level 1
    and of the served level 2 is sorted by (term, first_doc); the served
    level holds one file per shard (max_segments=1)."""
    _, df = corpus
    cfg = IndexConfig(shards=2, reducers=8, fanout=2)
    m = build.build_index(spark, df, cfg, str(tmp_path / "idx"),
                          input_path="synthetic")
    assert [lv["n_shards"] for lv in m["levels"]] == [8, 4, 2]
    assert_sorted_layout(m["levels"][1]["path"], 4, max_files=64)
    assert_sorted_layout(m["levels"][2]["path"], 2, max_files=1)


def test_compaction_salted_segments_sorted(spark, corpus, tmp_path):
    """max_segments=2 places (shard, term-hash salt) by id: at most two
    files per shard directory, each sorted by (term, first_doc)."""
    _, df = corpus
    d = str(tmp_path / "idx")
    build.build_index(spark, df, IndexConfig(shards=2, reducers=4, fanout=2),
                      d, input_path="synthetic")
    before = read_manifest(d)["stats"]
    with session_conf(spark, *NO_COALESCE):
        m = compact_final(spark, d, max_segments=2)
    assert_sorted_layout(m["levels"][-1]["path"], 2, max_files=2)
    assert sum(s["n_postings"] for s in m["levels"][-1]["segments"]) == sum(
        s["n_postings"] for s in read_manifest(d)["levels"][0]["segments"])
    assert m["stats"]["n_docs"] == before["n_docs"]


_RETRY_CHILD = r"""
import hashlib, json, os, sys
sys.path.insert(0, sys.argv[1])
marker, out = sys.argv[2], sys.argv[3]
import pyarrow.dataset as pads
from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index import build
from solr_mapreduce_indexer_spark.session import get_spark
from solr_mapreduce_indexer_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA, synth_transcripts_pandas)

spark = get_spark(app="retry", master="local[2,3]", shuffle_partitions=2)
orig = build._index_shard_mapper


def flaky(cfg, avgdl):
    inner = orig(cfg, avgdl)

    def run(batches):
        from pyspark import TaskContext
        ctx = TaskContext.get()
        for i, pdf in enumerate(inner(batches)):
            yield pdf
            # after the first micro-shard's rows reach the writer
            if (i == 0 and ctx.partitionId() == 0
                    and ctx.attemptNumber() == 0 and os.path.exists(marker)):
                with open(marker + ".fired", "a") as f:
                    f.write(f"{ctx.stageId()}\n")
                raise RuntimeError("injected level-0 task failure")
    return run


build._index_shard_mapper = flaky
df = spark.createDataFrame(
    synth_transcripts_pandas(n_convs=60, turns_per_conv=4, seed=3),
    schema=TRANSCRIPT_SCHEMA)
cfg = IndexConfig(shards=2, reducers=8, fanout=4, positions=True)


def rows(path, keys):
    t = pads.dataset(path, format="parquet", partitioning="hive").to_table()
    t = t.select(sorted(t.column_names)).to_pandas().sort_values(keys)
    return hashlib.sha256(
        t.to_csv(index=False).encode()).hexdigest(), len(t)


res = {}
for name in ("retried", "clean"):
    d = os.path.join(os.path.dirname(out), name)
    if name == "clean":
        os.remove(marker)
    m = build.build_index(spark, df, cfg, d, input_path="synthetic")
    l0 = m["levels"][0]
    res[name] = {
        "stats": {k: m["stats"][k] for k in ("n_docs", "avgdl",
                                             "total_tokens")},
        "segments": l0["segments"],
        "level0": rows(l0["path"], ["shard_id", "term", "first_doc"]),
        "docmap": rows(os.path.join(d, "docmap"), ["doc_id"]),
        "files_per_dir": sorted({len(os.listdir(p)) for p in
            [os.path.join(l0["path"], s) for s in os.listdir(l0["path"])
             if s.startswith("shard_id=")]}),
    }
with open(marker + ".fired") as f:
    res["fired"] = f.read().split()
with open(out, "w") as f:
    json.dump(res, f)
spark.stop()
"""


def test_level0_task_retry_writes_and_counts_once(tmp_path):
    """At local[2,3], the first attempt of one packed level-0 task raises
    after its first micro-shard's blocks reach the writer; the retry
    rebuilds all of that task's micro-shards. Stats, level-0 segment
    metrics and the rows of level 0 and the docmap equal a clean build's,
    with one file per micro-shard directory."""
    marker, out = tmp_path / "fail-once", tmp_path / "result.json"
    marker.write_text("")
    proc = subprocess.run(
        [sys.executable, "-c", _RETRY_CHILD, REPO, str(marker), str(out)],
        cwd=tmp_path, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    res = json.loads(out.read_text())
    assert len(res["fired"]) == 1, res["fired"]  # exactly one failed attempt
    retried, clean = res["retried"], res["clean"]
    assert retried["stats"] == clean["stats"]
    assert retried["segments"] == clean["segments"]
    assert retried["level0"] == clean["level0"]
    assert retried["docmap"] == clean["docmap"]
    assert retried["files_per_dir"] == clean["files_per_dir"] == [1]
