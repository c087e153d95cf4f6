"""The re-block kernel behind the last merge level and `compact`: every
(shard, term) posting list comes out in full block_size blocks, byte for
byte what codec.encode_blocks writes for the decoded postings, however the
kernel's input is cut into Arrow batches and posting-budget calls."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow.dataset as pads
import pytest
from conftest import settled_job_ids, write_docmap

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index import build, merge
from solr_mapreduce_indexer_spark.index.build import POSTINGS_COLS
from solr_mapreduce_indexer_spark.index.codec import (decode_block,
                                                      decode_positions,
                                                      encode_blocks,
                                                      encode_positions)
from solr_mapreduce_indexer_spark.index.manifest import read_manifest
from solr_mapreduce_indexer_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA, synth_transcripts_pandas)

DOC_BITS = 40
AVGDL = 9.5


def _encoded(shard, term, d, t, pos, lens, cfg_block, codec="for"):
    """encode_blocks rows of one posting list, with each block's position
    payload when `pos` is given."""
    rows = []
    ct = np.concatenate(([0], np.cumsum(t)))
    for i, b in enumerate(encode_blocks(d, t, lens, AVGDL, cfg_block,
                                        codec=codec)):
        s, e = i * cfg_block, i * cfg_block + b["n"]
        rows.append((shard, term, b["first_doc"], b["last_doc"], b["n"],
                     b["max_tf"], b["sum_tf"], b["min_dl"], b["max_tfnorm"],
                     b["doc_bytes"], b["tf_bytes"],
                     encode_positions(pos[ct[s]:ct[e]], t[s:e])
                     if pos is not None else b""))
    return rows


def _blocks(shard, term, d, t, pos, cuts, codec="for"):
    """Level-0-style block rows of one posting list: pieces cut at `cuts`
    (posting offsets), each encoded in blocks of up to 128."""
    rows = []
    ct = np.concatenate(([0], np.cumsum(t)))
    for s, e in zip([0, *cuts], [*cuts, len(d)]):
        rows += _encoded(shard, term, d[s:e], t[s:e],
                         pos[ct[s]:ct[e]] if pos is not None else None,
                         np.ones(e - s, np.int64), 128, codec)
    return rows


@pytest.fixture(scope="module")
def lists(tmp_path_factory):
    """Posting lists of two shards over micro-shards 0-7 (shard s owns
    micros 4s..4s+3), as level-0-style block rows cut at micro-shard
    boundaries and at random points, plus the docmap of their docs."""
    rng = np.random.default_rng(7)
    docs = np.concatenate([(m << DOC_BITS) + np.arange(300)
                           for m in range(8)])
    lens = rng.integers(3, 40, len(docs))
    out = []
    for shard in range(2):
        mine = docs[(docs >> DOC_BITS) // 4 == shard]
        for term, df in (("alpha", 5), ("beta", 1100), ("gamma", 130),
                         ("zeta", 128)):
            d = np.sort(rng.choice(mine, df, replace=False))
            t = rng.integers(1, 4, df)
            ln = lens[np.searchsorted(docs, d)]
            pos = np.concatenate([np.sort(rng.choice(max(l, k), k, replace=False))
                                  for l, k in zip(ln, t)])
            micro_cuts = np.flatnonzero(np.diff(d >> DOC_BITS)) + 1
            cuts = np.union1d(micro_cuts, rng.integers(1, df, df // 60))
            out.append((shard, term, d, t, pos, [int(c) for c in cuts]))
    path = write_docmap(tmp_path_factory.mktemp("docmap"), docs, lens)
    return out, path, dict(zip(docs.tolist(), lens.tolist()))


def _expected(lists, doclen, cfg, positions, dead=()):
    rows = []
    dead = set(dead)
    for shard, term, d, t, pos, _ in lists:
        ct = np.concatenate(([0], np.cumsum(t)))
        keep = np.array([x not in dead for x in d.tolist()], dtype=bool)
        p = (np.concatenate([pos[ct[i]:ct[i + 1]] for i in np.flatnonzero(keep)])
             if keep.any() else pos[:0])
        d, t = d[keep], t[keep]
        ln = np.array([doclen[x] for x in d.tolist()], np.int64)
        rows += _encoded(shard, term, d, t, p if positions else None, ln,
                         cfg.block_size, cfg.posting_codec)
    return pd.DataFrame(rows, columns=POSTINGS_COLS)


def _run(lists, docmap, cfg, positions, batch_rows, budget, tombs=None,
         varint_block=False):
    rows = []
    for i, (shard, term, d, t, pos, cuts) in enumerate(lists):
        rows += _blocks(shard, term, d, t, pos if positions else None, cuts,
                        codec="varint" if varint_block and i == 1 else "for")
    src = pd.DataFrame(rows, columns=POSTINGS_COLS)
    batches = [src.iloc[s:s + batch_rows].reset_index(drop=True)
               for s in range(0, len(src), batch_rows)]
    kernel = merge._reblock_mapper(cfg, AVGDL, docmap, tombs)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(merge, "REBLOCK_BUDGET", budget)
        got = list(kernel(iter(batches)))
    return (pd.concat(got, ignore_index=True) if got
            else pd.DataFrame(columns=POSTINGS_COLS)), src


def _assert_rows_equal(got, want):
    assert len(got) == len(want)
    for c in POSTINGS_COLS:
        g, w = got[c].tolist(), want[c].tolist()
        assert g == w, c


@pytest.mark.parametrize("positions", [True, False])
def test_kernel_equals_per_term_encode(lists, positions):
    """Batches of 37 rows and a 300-posting budget: the 1,100-posting lists
    run over several calls and batch boundaries. The second list's input
    blocks are varint-tagged."""
    data, docmap, doclen = lists
    cfg = IndexConfig(positions=positions)
    got, src = _run(data, docmap, cfg, positions, batch_rows=37, budget=300,
                    varint_block=True)
    assert (src["tf_bytes"].str[0] == 0).any()  # a varint-tagged input
    _assert_rows_equal(got, _expected(data, doclen, cfg, positions))
    # every list but its last block holds block_size postings
    for _, g in got.groupby(["shard_id", "term"], sort=False):
        assert (g["n"].iloc[:-1] == cfg.block_size).all()


def test_kernel_one_call_equals_many(lists):
    """One call per Arrow batch (an unbounded budget) and one batch per
    call give the same rows."""
    data, docmap, doclen = lists
    cfg = IndexConfig(positions=True)
    a, _ = _run(data, docmap, cfg, True, batch_rows=10_000, budget=1 << 30)
    b, _ = _run(data, docmap, cfg, True, batch_rows=5, budget=64)
    _assert_rows_equal(a, b)
    _assert_rows_equal(a, _expected(data, doclen, cfg, True))


def test_kernel_purges_tombstones(lists, tmp_path):
    """Tombstoned docs are dropped before the lists are re-cut; a list
    whose every posting is tombstoned leaves no rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    data, docmap, doclen = lists
    rng = np.random.default_rng(3)
    alpha0 = data[0][2]
    dead = np.unique(np.concatenate([
        alpha0, rng.choice(np.concatenate([x[2] for x in data]), 400)]))
    tombs = str(tmp_path / "tombstones")
    os.makedirs(tombs)
    pq.write_table(pa.table({"shard_id": (dead >> DOC_BITS).astype(np.int32),
                             "doc_id": dead}),
                   os.path.join(tombs, "part-0.parquet"))
    cfg = IndexConfig(positions=True)
    got, _ = _run(data, docmap, cfg, True, batch_rows=41, budget=256,
                  tombs=tombs)
    want = _expected(data, doclen, cfg, True, dead=dead.tolist())
    assert not ((got["shard_id"] == 0) & (got["term"] == "alpha")).any()
    _assert_rows_equal(got, want)


def test_varint_config_encodes_per_term(lists):
    data, docmap, doclen = lists
    cfg = IndexConfig(posting_codec="varint")
    got, _ = _run(data, docmap, cfg, False, batch_rows=50, budget=200)
    assert (got["doc_bytes"].str[0] == 0).all()
    _assert_rows_equal(got, _expected(data, doclen, cfg, False))


# --- builds -----------------------------------------------------------------

R16 = IndexConfig(shards=4, reducers=16, fanout=4, positions=True)


@pytest.fixture(scope="module")
def r16_build(spark, tmp_path_factory):
    pdf = synth_transcripts_pandas(n_convs=150, turns_per_conv=8,
                                   vocab_size=800, seed=11)
    d = str(tmp_path_factory.mktemp("r16") / "idx")
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    sc, group = spark.sparkContext, "r16-build"
    before = settled_job_ids(sc, group)
    sc.setJobGroup(group, "r16 build")
    try:
        build.build_index(spark, df, R16, d, input_path="synthetic")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return d, len(settled_job_ids(sc, group) - before)


def _level_rows(path):
    t = pads.dataset(path, format="parquet", partitioning="hive").to_table()
    return (t.to_pandas()[POSTINGS_COLS]
            .sort_values(["shard_id", "term", "first_doc"])
            .reset_index(drop=True))


def test_served_level_holds_full_blocks(r16_build):
    """Every (shard, term) list of the served level has ceil(df/128)
    blocks, all but its last holding 128 postings, in at most max_segments
    files per shard directory, each sorted by (term, first_doc)."""
    from test_placement import assert_sorted_layout
    d, _ = r16_build
    final = read_manifest(d)["levels"][-1]
    rows = _level_rows(final["path"])
    per = rows.groupby(["shard_id", "term"], sort=False)
    df = per["n"].sum()
    assert (per.size() == np.ceil(df / 128).astype(int)).all()
    assert per["n"].apply(lambda n: (n.iloc[:-1] == 128).all()).all()
    assert (df > 128).any()  # several lists span blocks
    assert_sorted_layout(final["path"], R16.shards,
                         max_files=R16.max_segments)
    # the lists hold the postings level 0 holds
    l0 = _level_rows(read_manifest(d)["levels"][0]["path"])
    l0 = l0.assign(shard_id=l0["shard_id"] // 4).groupby(
        ["shard_id", "term"])["n"].sum()
    assert l0.sort_index().equals(df.sort_index())
    # and decode to strictly ascending docs with positions in step
    for r in rows.sample(50, random_state=1).itertuples(index=False):
        docs, tf = decode_block(r.doc_bytes, r.tf_bytes, r.first_doc)
        assert len(docs) == r.n and (np.diff(docs) > 0).all()
        assert len(decode_positions(r.pos_bytes, tf)[0]) == r.sum_tf


_COMPACT_CHILD = r"""
import sys
sys.path.insert(0, sys.argv[1])
from solr_mapreduce_indexer_spark.index.merge import compact_final
from solr_mapreduce_indexer_spark.session import get_spark
spark = get_spark(app="compact-child", master="local[2]", shuffle_partitions=2)
assert compact_final(spark, sys.argv[2])["levels"][-1]["compacted"]
spark.stop()
"""


def test_compact_on_full_blocks_changes_no_row(r16_build, tmp_path):
    """compact_final on a new build rewrites every row unchanged. It runs
    in a fresh session started outside the repository, so the re-block
    kernel's workers can import the package only from the zip that the
    call itself ships."""
    import shutil
    import subprocess
    import sys
    d, _ = r16_build
    c = str(tmp_path / "c")
    shutil.copytree(d, c)
    before = _level_rows(read_manifest(c)["levels"][-1]["path"])
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    run = subprocess.run([sys.executable, "-c", _COMPACT_CHILD, repo, c],
                         cwd=str(tmp_path), env=env, capture_output=True,
                         text=True, timeout=900)
    assert run.returncode == 0, run.stderr[-3000:]
    m = read_manifest(c)
    assert m["levels"][-1]["compacted"]
    _assert_rows_equal(_level_rows(m["levels"][-1]["path"]), before)


# Spark jobs of the R=16 positional build above: docmap write, level-0
# write, level-0 segment metrics, term_stats, the one merge level (the
# re-block runs inside its write job) and its segment metrics.
BUILD_JOB_BUDGET = 17


def test_build_job_budget(r16_build):
    _, jobs = r16_build
    assert jobs <= BUILD_JOB_BUDGET, jobs
