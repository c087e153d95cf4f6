"""Duplicate-key resolution across combined indexes (tombstones).

Reference semantics: every unique-key collision is resolved before the
index serves (SolrReducer.java:80-108, default retain-most-recent). Our
merge-indexes / stream-finalize combine committed segments, so losers
become tombstones: subtracted by the query kernel and validator, purged
physically by compact. These tests build two indexes sharing keys where
the newer version has IDENTICAL text (so df/cf/avgdl — and therefore BM25
scores — are unchanged by which copy wins) and assert the merged index
answers exactly like a direct build over the resolved corpus.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
from solr_mapreduce_indexer_spark.index.merge import compact_final, merge_indexes
from solr_mapreduce_indexer_spark.index.validate import validate_index
from solr_mapreduce_indexer_spark.query.bm25 import bm25_topk, load_index
from solr_mapreduce_indexer_spark.sources.transcripts import TRANSCRIPT_SCHEMA


def _tr(spark, rows):
    pdf = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                      "tool", "ts"])
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)


@pytest.fixture(scope="module")
def merged(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("tomb")
    rng_rows_a = [(f"conv{i}", t, "user",
                   f"alpha beta tok{i:02d} shared text body", None,
                   f"2024-01-01T00:0{t}:00")
                  for i in range(8) for t in range(2)]
    # B re-ingests conv0..conv3 with the SAME text but newer ts, plus new convs
    rows_b = [(f"conv{i}", t, "user",
               f"alpha beta tok{i:02d} shared text body", None,
               f"2024-02-01T00:0{t}:00")
              for i in range(4) for t in range(2)]
    rows_b += [(f"conv{i}", t, "user",
                f"alpha beta tok{i:02d} shared text body", None,
                f"2024-02-01T00:0{t}:00")
               for i in range(8, 12) for t in range(2)]
    cfg = IndexConfig(shards=2)
    ia, ib, out = str(tmp / "a"), str(tmp / "b"), str(tmp / "m")
    build_index(spark, _tr(spark, rng_rows_a), cfg, ia)
    build_index(spark, _tr(spark, rows_b), cfg, ib)
    m = merge_indexes(spark, [ia, ib], out)
    # direct build over the resolved corpus (latest ts wins => B's copies)
    resolved = [r for r in rng_rows_a if r[0] not in
                {f"conv{i}" for i in range(4)}] + rows_b
    direct = str(tmp / "direct")
    build_index(spark, _tr(spark, resolved), cfg, direct)
    return m, out, direct, tmp


def test_merge_resolves_duplicate_keys(merged, spark):
    m, out, direct, _ = merged
    assert m["stats"]["n_tombstones"] == 8  # conv0..3 × 2 turns lost
    assert m["stats"]["n_live_docs"] == m["stats"]["n_docs"] - 8
    assert m.get("tombstones", {}).get("n") == 8


def test_merged_queries_match_direct_build(merged, spark):
    # pre-compact: scores use stats that still COUNT tombstoned docs (the
    # Lucene deleted-docs idf semantics), so compare the served DOC SET —
    # exactly the live resolved corpus, no tombstoned doc, no duplicate;
    # exact score parity is asserted post-purge in
    # test_compact_purges_tombstones
    _, out, direct, _ = merged
    got = {(r["conv_id"], r["turn_idx"])
           for r in bm25_topk(spark, load_index(out),
                              ["alpha", "shared"], k=50).collect()}
    want = {(r["conv_id"], r["turn_idx"])
            for r in bm25_topk(spark, load_index(direct),
                               ["alpha", "shared"], k=50).collect()}
    assert got == want and len(got) == 24  # 12 convs × 2 turns, no dups


def test_no_doc_served_twice(merged, spark):
    _, out, _, _ = merged
    res = bm25_topk(spark, load_index(out), ["alpha"], k=100)
    keys = res.select("conv_id", "turn_idx").collect()
    assert len(keys) == len({(r["conv_id"], r["turn_idx"]) for r in keys})


def test_validate_reports_zero_live_dupes(merged, spark):
    _, out, _, _ = merged
    rep = validate_index(spark, out)
    assert rep["live_duplicate_keys"] == 0
    assert rep["ok"], rep


def test_compact_purges_tombstones(merged, spark):
    _, out, direct, _ = merged
    m2 = compact_final(spark, out)
    assert "tombstones" not in m2
    # after the purge, stats equal the direct build's (live docs only)
    md = load_index(direct)
    h = load_index(out)
    assert h.tombstones_path is None
    assert h.n_docs == md.n_docs
    assert abs(h.avgdl - md.avgdl) < 1e-9
    got = {(r["conv_id"], r["turn_idx"], round(r["score"], 9))
           for r in bm25_topk(spark, h, ["alpha", "shared"], k=50).collect()}
    want = {(r["conv_id"], r["turn_idx"], round(r["score"], 9))
            for r in bm25_topk(spark, md, ["alpha", "shared"], k=50).collect()}
    assert got == want
    rep = validate_index(spark, out)
    assert rep["ok"], rep


def test_reject_resolver_fails_loudly(spark, tmp_path):
    cfg = IndexConfig(shards=1, conflict_resolver="reject_conflicts")
    rows = [("c1", 0, "user", "some text here", None, "2024-01-01T00:00:00")]
    rows2 = [("c1", 0, "user", "some text here", None, "2024-02-01T00:00:00")]
    ia, ib = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, _tr(spark, rows), cfg, ia)
    build_index(spark, _tr(spark, rows2), cfg, ib)
    with pytest.raises(ValueError, match="duplicate keys"):
        merge_indexes(spark, [ia, ib], str(tmp_path / "m"))
    assert not (tmp_path / "m" / "tombstones").exists()


def test_range_load_sees_overwrite(tmp_path):
    """A long-lived worker process must never serve a stale tombstone set
    after the same path is overwritten by a re-merge: the per-process cache
    keys on the parquet file LISTING (part names are unique per write)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from solr_mapreduce_indexer_spark.index.tombstones import (
        load_tombstones_range)
    d = tmp_path / "tombs"
    d.mkdir()
    pq.write_table(pa.table({"doc_id": pa.array([5, 9], pa.int64())}),
                   d / "part-00000-aaaa.parquet")
    got = load_tombstones_range(str(d), 0, 100, doc_bits=4)
    assert got.tolist() == [5, 9]
    # overwrite: different file name, different content — same path
    (d / "part-00000-aaaa.parquet").unlink()
    pq.write_table(pa.table({"doc_id": pa.array([7], pa.int64())}),
                   d / "part-00000-bbbb.parquet")
    got2 = load_tombstones_range(str(d), 0, 100, doc_bits=4)
    assert got2.tolist() == [7], "stale cached tombstones served"
