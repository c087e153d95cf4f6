"""Doc-length norms live once per doc in the docmap, not in posting blocks.

An index written in the earlier format (every block also carrying a
`len_bytes` stream of per-posting doc lengths) must still query, merge,
compact and validate, with the stream never read. Validation must keep its
strength: block metadata that disagrees with the docmap's lengths fails.
"""

from __future__ import annotations

import glob
import os
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import read_doc_lens

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
from solr_mapreduce_indexer_spark.index.codec import (bm25_tfnorm,
                                                      decode_block,
                                                      decode_positions,
                                                      encode_positions,
                                                      encode_values)
from solr_mapreduce_indexer_spark.index.merge import (compact_final,
                                                      merge_indexes)
from solr_mapreduce_indexer_spark.index.validate import validate_index
from solr_mapreduce_indexer_spark.query import bm25
from solr_mapreduce_indexer_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA, synth_transcripts_pandas)

CFG = IndexConfig(shards=2, reducers=4, fanout=2, positions=True)


def _build(spark, path, pdf):
    build_index(spark, spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA),
                CFG, path, input_path="synthetic")
    return path


def _batch(pdf):
    first = pdf["text"].iloc[0].split()
    return [
        {"query_id": 0, "terms": ["tok00000", "tok00003"], "mode": "AND",
         "k": 50},
        {"query_id": 1, "terms": ["tok00002", "tok00013", "zyzzyva"],
         "mode": "OR", "k": 50},
        {"query_id": 2, "terms": first[:2], "mode": "PHRASE", "k": 1000},
        {"query_id": 3, "terms": ["tok00000", "tok00001"], "mode": "PHRASE",
         "k": 1000},
    ]


def _run(spark, index_dir, batch):
    out = bm25.run_queries(spark, bm25.load_index(index_dir), batch)
    return (out.toPandas().sort_values(["query_id", "rank"])
            .reset_index(drop=True))


def _level_files(index_dir):
    level = bm25.load_index(index_dir).postings_path
    return sorted(glob.glob(os.path.join(level, "shard_id=*", "*.parquet")))


def _rewrite(part, table):
    pq.write_table(table, part)
    crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
    if os.path.exists(crc):
        os.remove(crc)  # stale Hadoop checksum sidecar of the original file


def _add_len_bytes(index_dir):
    """Rewrite the served level in the earlier format: a `len_bytes` column
    right after `tf_bytes`, holding each posting's FOR-encoded doc length."""
    docmap = os.path.join(index_dir, "docmap")
    for part in _level_files(index_dir):
        tbl = pq.read_table(part)
        lens = [encode_values(read_doc_lens(docmap, decode_block(
                    d, t, f)[0]), "for")
                for d, t, f in zip(tbl["doc_bytes"].to_pylist(),
                                   tbl["tf_bytes"].to_pylist(),
                                   tbl["first_doc"].to_pylist())]
        at = tbl.schema.get_field_index("tf_bytes") + 1
        _rewrite(part, tbl.add_column(at, "len_bytes",
                                      pa.array(lens, pa.binary())))


@pytest.fixture(scope="module")
def corpora():
    a = synth_transcripts_pandas(n_convs=60, turns_per_conv=4, seed=11)
    b = synth_transcripts_pandas(n_convs=40, turns_per_conv=4, seed=12)
    b["conv_id"] = "b" + b["conv_id"]  # disjoint keys
    return a, b


@pytest.fixture(scope="module")
def indexes(spark, corpora, tmp_path_factory):
    """(new-format index, its earlier-format copy, a second new index)."""
    root = tmp_path_factory.mktemp("norms")
    new = _build(spark, str(root / "new"), corpora[0])
    old = str(root / "old")
    shutil.copytree(new, old)
    _add_len_bytes(old)
    other = _build(spark, str(root / "other"), corpora[1])
    return new, old, other


def test_old_format_queries_identical(spark, corpora, indexes):
    new, old, _ = indexes
    assert all("len_bytes" in pq.read_schema(p).names
               for p in _level_files(old))
    batch = _batch(corpora[0])
    want = _run(spark, new, batch)
    assert set(want["query_id"]) == {0, 1, 2, 3}
    pd.testing.assert_frame_equal(_run(spark, old, batch), want)
    assert validate_index(spark, old)["ok"]


def test_old_format_merges_and_compacts(spark, corpora, indexes, tmp_path):
    new, old, other = indexes
    batch = _batch(corpora[0])
    m_new, m_old = str(tmp_path / "m_new"), str(tmp_path / "m_old")
    merge_indexes(spark, [new, other], m_new)
    merge_indexes(spark, [old, other], m_old)
    # the concat writes the current format: the length stream is gone
    assert not any("len_bytes" in pq.read_schema(p).names
                   for p in _level_files(m_old))
    want = _run(spark, m_new, batch)
    pd.testing.assert_frame_equal(_run(spark, m_old, batch), want)
    assert validate_index(spark, m_old)["ok"]

    c_old = str(tmp_path / "c_old")
    shutil.copytree(old, c_old)
    compact_final(spark, c_old)
    assert not any("len_bytes" in pq.read_schema(p).names
                   for p in _level_files(c_old))
    pd.testing.assert_frame_equal(_run(spark, c_old, batch),
                                  _run(spark, new, batch))
    assert validate_index(spark, c_old)["ok"]


# --- validation strength: metadata and positions checked against the docmap

def _corrupt_first_block(spark, src, dst, fn):
    """Copy index src to dst, replace the first block row of its first
    served file with fn(row dict, docmap path) and validate the copy."""
    shutil.copytree(src, dst)
    part = _level_files(dst)[0]
    tbl = pq.read_table(part)
    rows = tbl.to_pylist()
    rows[0] = fn(dict(rows[0]), os.path.join(dst, "docmap"))
    _rewrite(part, pa.Table.from_pylist(rows, schema=tbl.schema))
    return validate_index(spark, dst)


def _assert_block_error_only(rep):
    assert not rep["ok"], rep
    assert rep["n_block_errors"] >= 1, rep
    # the failure is the block check's: term and doc-length totals still hold
    assert rep["df_cf_mismatches"] == 0 and rep["doc_len_mismatches"] == 0


def test_validate_fails_on_min_dl_disagreeing_with_docmap(spark, indexes,
                                                          tmp_path):
    def bump(r, _docmap):
        r["min_dl"] += 1
        return r
    _assert_block_error_only(
        _corrupt_first_block(spark, indexes[0], str(tmp_path / "bad"), bump))


def test_validate_fails_on_max_tfnorm_below_docmap_bound(spark, indexes,
                                                         tmp_path):
    def lower(r, docmap):
        d, tf = decode_block(r["doc_bytes"], r["tf_bytes"], r["first_doc"])
        avgdl = bm25.load_index(os.path.dirname(docmap)).avgdl
        true = float(bm25_tfnorm(tf, read_doc_lens(docmap, d), avgdl).max())
        r["max_tfnorm"] = true * (1 - 1e-6)
        return r
    _assert_block_error_only(
        _corrupt_first_block(spark, indexes[0], str(tmp_path / "bad"),
                             lower))


def test_validate_fails_on_position_past_doc_len(spark, indexes, tmp_path):
    def stretch(r, docmap):
        d, tf = decode_block(r["doc_bytes"], r["tf_bytes"], r["first_doc"])
        pos, _ = decode_positions(r["pos_bytes"], tf)
        # the block's last position is its last posting's largest, so
        # moving it to that doc's length keeps positions ascending
        pos[-1] = int(read_doc_lens(docmap, d[-1:])[0])
        r["pos_bytes"] = encode_positions(pos, tf)
        return r
    _assert_block_error_only(
        _corrupt_first_block(spark, indexes[0], str(tmp_path / "bad"),
                             stretch))


def test_kernels_need_the_docmap(spark, indexes, tmp_path):
    """No second source of lengths: a shard whose docmap is missing fails
    loudly instead of scoring with made-up lengths."""
    bad = str(tmp_path / "nodocmap")
    shutil.copytree(indexes[0], bad)
    for d in glob.glob(os.path.join(bad, "docmap", "shard_id=*")):
        shutil.rmtree(d)
    h = bm25.load_index(bad)
    kern = bm25._score_shard_kernel(
        [{"query_id": 0, "terms": ["tok00000"], "mode": "OR", "k": 5}],
        {"tok00000": 1.0}, h.avgdl, h.cfg.k1, h.cfg.b, h.docmap_path,
        doc_bits=h.cfg.doc_bits)
    blocks = pq.read_table(_level_files(bad)[0]).to_pandas()
    with pytest.raises(ValueError, match="docmap"):
        kern(blocks[blocks["term"] == "tok00000"])
