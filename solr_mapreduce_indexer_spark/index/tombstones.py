"""Tombstone side-file: duplicate-key losers, subtracted at decode time.

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

Reads go through pyarrow.dataset, which consults row-group min/max stats
before touching pages — on HDFS/S3 the same API reads only the overlapping
row groups of the overlapping files.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


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
def _load_range_cached(path: str, lo: int, hi: int,
                       files: tuple[str, ...]) -> np.ndarray:
    import pyarrow.dataset as ds
    flt = (ds.field("doc_id") >= lo) & (ds.field("doc_id") <= hi)
    tab = (ds.dataset(path, format="parquet")
             .to_table(columns=["doc_id"], filter=flt))
    arr = tab["doc_id"].to_numpy(zero_copy_only=False).astype(np.int64)
    arr.sort()
    return arr


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
    import pyarrow.dataset as ds

    from ..fsutil import local_path
    path = local_path(path)  # Spark emits file:/… URIs pyarrow won't parse
    files = tuple(sorted(ds.dataset(path, format="parquet").files))
    lo = (int(lo_doc) >> doc_bits) << doc_bits
    hi = (((int(hi_doc) >> doc_bits) + 1) << doc_bits) - 1
    return _load_range_cached(path, lo, hi, files)
