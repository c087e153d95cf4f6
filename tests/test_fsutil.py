"""Remote-filesystem safety of the maintenance verbs.

``file:``-scheme URIs are the test double for HDFS: they route through the
JVM Hadoop FileSystem (no symlinks, rename-no-overwrite, create-overwrite
pointer commits) exactly like ``hdfs://`` paths would, while backed by local
disk — the Hadoop FileSystem compatibility contract makes the semantics
transferable. Reference parity: every reference output op is HDFS-native
(SolrRecordWriter.java:104-131, GoLiveTool.java:63-192)."""

from __future__ import annotations

import os

import pytest

from solr_mapreduce_indexer_spark import fsutil
from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
from solr_mapreduce_indexer_spark.query.bm25 import bm25_topk, load_index
from solr_mapreduce_indexer_spark.sources.transcripts import NEEDLES


def test_scheme_detection_and_local_path():
    assert fsutil.has_scheme("hdfs://nn/idx")
    assert fsutil.has_scheme("s3a://bucket/idx")
    assert fsutil.has_scheme("file:/tmp/idx")
    assert not fsutil.has_scheme("/tmp/idx")
    assert not fsutil.has_scheme("relative/dir")
    assert fsutil.local_path("file:/tmp/x") == "/tmp/x"
    assert fsutil.local_path("file:///tmp/x") == "/tmp/x"
    assert fsutil.local_path("/tmp/x") == "/tmp/x"


def test_arrow_fs_cached_per_root(tmp_path):
    """URIs under one scheme and authority share one pyarrow filesystem
    (on hdfs:// each new one is a new connection), with the same inner
    paths pyarrow's own URI parsing gives; local paths still map to a
    local filesystem and their absolute path."""
    import pyarrow.fs as pafs
    a_fs, a = fsutil.arrow_fs("mock:///idx/segments/level_1")
    b_fs, b = fsutil.arrow_fs("mock:///idx/docmap")
    assert a_fs is b_fs
    assert a == pafs.FileSystem.from_uri("mock:///idx/segments/level_1")[1]
    assert b == pafs.FileSystem.from_uri("mock:///idx/docmap")[1]
    fs, p = fsutil.arrow_fs(str(tmp_path / "idx"))
    assert isinstance(fs, pafs.LocalFileSystem)
    assert p == os.path.abspath(str(tmp_path / "idx"))
    assert fsutil.arrow_fs(f"file:{tmp_path}/idx")[1] == p


def test_hadoop_primitives_roundtrip(spark, tmp_path):
    base = f"file:{tmp_path}/fs"
    fsutil.mkdirs(base + "/d1")
    assert fsutil.exists(base + "/d1") and fsutil.is_dir(base + "/d1")
    fsutil.write_text_atomic(base + "/d1/a.txt", "hello\n")
    assert fsutil.read_text(base + "/d1/a.txt") == "hello\n"
    # overwrite (the CURRENT-pointer commit path)
    fsutil.write_text_atomic(base + "/d1/a.txt", "v2\n")
    assert fsutil.read_text(base + "/d1/a.txt") == "v2\n"
    assert fsutil.listdir(base + "/d1") == ["a.txt"]
    fsutil.copy_dir(base + "/d1", base + "/d2")
    assert fsutil.read_text(base + "/d2/a.txt") == "v2\n"
    fsutil.rename(base + "/d2", base + "/d3")
    assert not fsutil.exists(base + "/d2")
    fsutil.replace_dir(base + "/d3", base + "/d1")  # over existing dir
    assert fsutil.read_text(base + "/d1/a.txt") == "v2\n"
    fsutil.delete(base + "/d1")
    assert not fsutil.exists(base + "/d1")
    fsutil.delete(base + "/gone", ignore_missing=True)
    assert not fsutil.exists(base + "/nope.txt")


@pytest.fixture(scope="module")
def uri_index(spark, transcripts_df, tmp_path_factory):
    """An index built, committed, and read entirely through a file:-scheme
    URI — exercises manifest/checkpoint IO via the Hadoop FileSystem."""
    d = "file:" + str(tmp_path_factory.mktemp("uri_idx"))
    cfg = IndexConfig(shards=2, reducers=4, fanout=2)
    build_index(spark, transcripts_df, cfg, d, input_path="synthetic")
    return d


def test_build_and_query_on_uri_index(spark, uri_index):
    h = load_index(uri_index)
    assert h.n_docs == 960
    got = bm25_topk(spark, h, [NEEDLES[1]], k=5).toPandas()
    assert len(got) > 0


def test_resume_on_uri_index(spark, transcripts_df, uri_index):
    # Behavioral resume assertion (not wall-clock, which flakes on loaded
    # CI): a resumed build must skip every phase, leaving checkpoint files
    # and segment data untouched — verified by mtime comparison.
    import glob
    root = fsutil.local_path(uri_index)
    watched = sorted(glob.glob(os.path.join(root, "checkpoints", "*.json"))
                     + glob.glob(os.path.join(root, "segments", "**", "*"),
                                 recursive=True))
    assert watched
    before = {p: os.path.getmtime(p) for p in watched}
    cfg = IndexConfig(shards=2, reducers=4, fanout=2)
    build_index(spark, transcripts_df, cfg, uri_index, input_path="synthetic")
    after = {p: os.path.getmtime(p) for p in watched}
    assert after == before


def test_compact_final_on_uri_index(spark, uri_index):
    from solr_mapreduce_indexer_spark.index.merge import compact_final
    h0 = load_index(uri_index)
    m = compact_final(spark, uri_index)
    assert m["levels"][-1]["compacted"]
    h1 = load_index(uri_index)
    a = bm25_topk(spark, h0, [NEEDLES[1]], k=5).toPandas()
    b = bm25_topk(spark, h1, [NEEDLES[1]], k=5).toPandas()
    assert a["doc_id"].tolist() == b["doc_id"].tolist()


def test_publish_to_uri_serving_dir(spark, uri_index, tmp_path):
    from solr_mapreduce_indexer_spark.index.manifest import (publish_index,
                                                             resolve_current)
    serving = f"file:{tmp_path}/srv"
    out = publish_index(uri_index, serving)
    assert out["snapshot"].endswith("snap_000000")
    live = resolve_current(serving)
    assert live == out["snapshot"]
    # the published snapshot is a loadable index
    h = load_index(live)
    assert h.n_docs == 960
    # idempotent re-publish: same content → no new snapshot
    again = publish_index(uri_index, serving)
    assert again.get("rerun") and again["snapshot"] == out["snapshot"]
    # a changed manifest → next snapshot and pointer swap
    mfst = fsutil.read_text(uri_index.rstrip("/") + "/manifest.json")
    fsutil.write_text_atomic(uri_index.rstrip("/") + "/manifest.json",
                             mfst.replace("synthetic", "synthetic-v2"))
    out2 = publish_index(uri_index, serving)
    assert out2["snapshot"].endswith("snap_000001")
    assert resolve_current(serving) == out2["snapshot"]


def test_local_publish_unchanged(spark, transcripts_df, tmp_path):
    """Plain-path publish keeps the symlink layout and resolve_current
    resolves it."""
    from solr_mapreduce_indexer_spark.index.manifest import (publish_index,
                                                             resolve_current)
    d = str(tmp_path / "idx")
    cfg = IndexConfig(shards=2, reducers=4)
    build_index(spark, transcripts_df, cfg, d, input_path="synthetic")
    serving = str(tmp_path / "srv")
    out = publish_index(d, serving)
    assert os.path.islink(os.path.join(serving, "current"))
    assert resolve_current(serving) == os.path.realpath(
        os.path.join(serving, "current"))
    assert out["n_docs"] == 960
