"""Per-shard side reads: tombstones, and doc lengths from the docmap.

Tombstones are duplicate-key losers, subtracted at decode time. Posting
blocks store no doc lengths, so scoring, compaction and validation read the
docmap's `doc_len` for the docs they decode. Both reads run inside
executors, one shard's slice at a time, through one per-process cache.

Reference semantics: every unique-key collision is resolved before the index
serves (SolrReducer.java:80-108); committed posting segments are immutable
(Lucene segments), so losers from merge-indexes / stream-finalize become
tombstones the query kernel and validator subtract and `compact` purges —
the Lucene live-docs lifecycle.

Scale contract (the round-3 design put the FULL tombstone set on the driver
per query batch and broadcast it for compaction — O(collision count) driver
memory, and merging two heavily-overlapping generations makes collisions
O(corpus)): tombstones are written as parquet RANGE-PARTITIONED AND SORTED BY
doc_id, so any kernel can read just its own doc-id slice through parquet
row-group statistics. Files cover disjoint doc-id ranges and AQE sizes them
from the data. Each task's working set is bounded by one shard's
tombstones; nothing ever lands on the driver. Doc ids embed their micro-shard
in the high bits, so read ranges are quantized to micro-shard boundaries —
every kernel of the same shard asks for the byte-identical range and the
per-process cache below serves repeat reads (e.g. compact's many
(shard, term) groups) from memory.

Reads go through pyarrow.parquet file by file, consulting each row group's
doc_id min/max statistics before touching its pages — on HDFS/S3 the same
calls read only the overlapping row groups of the overlapping files.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from ..fsutil import arrow_fs, data_files


def write_tombstones(losers: DataFrame, path: str,
                     compression: str = "zstd") -> int:
    """Write (shard_id, doc_id) losers sorted by doc_id; returns their count.

    repartitionByRange + sortWithinPartitions ⇒ files and row groups cover
    disjoint, ordered doc-id ranges, which is exactly what makes
    load_tombstones_range a row-group-pruned read instead of a full scan.
    No partition count is given, so AQE sizes the files from the data. The
    count is an Observation ABOVE the range exchange: it runs in the write's
    result stage, never in the range-sampling job, so each row is counted
    exactly once and the losers are computed for the write alone."""
    obs = Observation()
    (losers.repartitionByRange("doc_id")
           .observe(obs, F.count(F.lit(1)).alias("n"))
           .sortWithinPartitions("doc_id")
           .write.mode("overwrite").option("compression", compression)
           .parquet(path))
    return int(obs.get["n"])


@functools.lru_cache(maxsize=8)
def _load_range_cached(path: str, lo: int, hi: int, files: tuple[str, ...],
                       extra: tuple[str, ...] = ()) -> tuple[np.ndarray, ...]:
    """(doc_id, *extra) of the rows of `files` (under `path`) with
    lo <= doc_id <= hi, sorted by doc_id, one int64 array per column. Row
    groups whose doc_id statistics miss [lo, hi] are never read. The key
    holds the file listing itself, so an overwritten directory is a new
    entry. Files are read one by one: for the few small files of one shard
    this took about half the time of a pyarrow.dataset scan."""
    import pyarrow.parquet as pq
    fs = arrow_fs(path)[0]
    columns = ["doc_id", *extra]
    parts: list[list[np.ndarray]] = [[] for _ in columns]
    for f in files:
        with pq.ParquetFile(f, filesystem=fs) as pf:
            meta = pf.metadata
            j = meta.schema.names.index("doc_id")
            stats = [meta.row_group(g).column(j).statistics
                     for g in range(meta.num_row_groups)]
            groups = [g for g, st in enumerate(stats)
                      if st is None or not st.has_min_max
                      or (st.min <= hi and st.max >= lo)]
            if groups:
                tab = pf.read_row_groups(groups, columns=columns,
                                         use_threads=False)
                for part, c in zip(parts, columns):
                    part.append(tab[c].to_numpy().astype(np.int64))
    cols = [np.concatenate(p) if p else np.empty(0, np.int64) for p in parts]
    keep = (cols[0] >= lo) & (cols[0] <= hi)
    order = np.argsort(cols[0][keep], kind="stable")
    return tuple(c[keep][order] for c in cols)


def load_tombstones_range(path: str, lo_doc: int, hi_doc: int,
                          doc_bits: int) -> np.ndarray:
    """Sorted tombstoned doc ids overlapping [lo_doc, hi_doc].

    The range is widened to micro-shard boundaries (doc_id high bits) so all
    kernels working the same shard share one cache entry per process — a
    compact pass over S terms of one shard reads the parquet once, not S
    times. Runs inside executors; the driver never materializes tombstones.

    The cache key includes the sorted parquet file listing itself (Spark
    part-file names are unique per write), so a long-lived worker process
    never serves a stale set after the same path is overwritten by a
    re-merge; the listing is a metadata-only call on any filesystem.
    lru_cache compares keys by EQUALITY (hashing only buckets), so two
    different listings can never alias — a pre-collapsed hash() token could
    collide and silently serve a stale set."""
    lo = (int(lo_doc) >> doc_bits) << doc_bits
    hi = (((int(hi_doc) >> doc_bits) + 1) << doc_bits) - 1
    return _load_range_cached(path, lo, hi, data_files(path, [""]))[0]


def load_doc_lens(docmap_path: str, first_docs: np.ndarray,
                  last_docs: np.ndarray, doc_bits: int
                  ) -> tuple[np.ndarray, np.ndarray]:
    """(doc ids, doc lengths), sorted by doc id, of every docmap micro-shard
    that the blocks' [first_doc, last_doc] ranges touch — BM25's per-doc
    norms, read once per shard beside its posting blocks.

    Only the `docmap/shard_id=m` directories of those micro-shards (m =
    doc_id >> doc_bits) are listed and read — never a root-level discovery
    of every shard's directory. Shares the tombstones' per-process cache."""
    lo_m = np.asarray(first_docs, np.int64) >> doc_bits
    hi_m = np.asarray(last_docs, np.int64) >> doc_bits
    if not len(lo_m):
        return np.empty(0, np.int64), np.empty(0, np.int64)
    # micro-shards covered by the block ranges; level-0 blocks never span
    # two, the full blocks of a served or compacted level may
    micros = np.unique(np.concatenate(
        [lo_m] + [np.arange(lo_m[i], hi_m[i] + 1)
                  for i in np.flatnonzero(hi_m > lo_m)]))
    files = data_files(docmap_path, [f"shard_id={int(m)}" for m in micros])
    lo = int(micros[0]) << doc_bits
    hi = ((int(micros[-1]) + 1) << doc_bits) - 1
    return _load_range_cached(docmap_path, lo, hi, files, ("doc_len",))


def doc_lens_of(ids: np.ndarray, lens: np.ndarray,
                docs: np.ndarray) -> np.ndarray:
    """Lengths of `docs` from a load_doc_lens result; a doc missing from the
    docmap raises instead of scoring with another doc's length."""
    ix = np.searchsorted(ids, docs)
    if len(docs) and (int(ix.max()) >= len(ids)
                      or not np.array_equal(ids[ix], docs)):
        raise ValueError("posting doc ids missing from the docmap")
    return lens[ix]
