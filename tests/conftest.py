from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from solr_mapreduce_indexer_spark.session import get_spark  # noqa: E402


def settled_job_ids(sc, group):
    """Spark job ids in `group` plus the ungrouped ones, read from
    statusTracker once the id set stops growing (the listener bus that
    feeds it is asynchronous)."""
    import time
    tr = sc.statusTracker()

    def ids():
        return (set(tr.getJobIdsForGroup(None))
                | set(tr.getJobIdsForGroup(group)))
    got, deadline = ids(), time.monotonic() + 5.0
    while time.monotonic() < deadline:
        time.sleep(0.2)
        nxt = ids()
        if nxt == got:
            break
        got = nxt
    return got


def write_docmap(root, doc_ids, doc_lens, doc_bits: int = 40) -> str:
    """Write the docmap of synthetic posting blocks: (doc_id, doc_len) rows
    in the engine's layout, one `shard_id=m` directory per micro-shard
    m = doc_id >> doc_bits. Kernels read doc lengths from it exactly as they
    read a built index's docmap. Returns its path."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    ids = np.asarray(doc_ids, dtype=np.int64)
    lens = np.asarray(doc_lens, dtype=np.int64)
    for m in np.unique(ids >> doc_bits):
        sel = (ids >> doc_bits) == m
        part = os.path.join(str(root), f"shard_id={int(m)}")
        os.makedirs(part, exist_ok=True)
        pq.write_table(pa.table({"doc_id": ids[sel], "doc_len": lens[sel]}),
                       os.path.join(part, "part-00000.parquet"))
    return str(root)


def read_doc_lens(docmap_path, docs, doc_bits: int = 40):
    """Doc lengths of `docs` through the engine's per-shard norms read."""
    import numpy as np

    from solr_mapreduce_indexer_spark.index.tombstones import (doc_lens_of,
                                                               load_doc_lens)
    docs = np.asarray(docs, dtype=np.int64)
    return doc_lens_of(*load_doc_lens(docmap_path, docs, docs, doc_bits),
                       docs)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="engine-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def transcripts_pdf():
    from solr_mapreduce_indexer_spark.sources.transcripts import synth_transcripts_pandas
    return synth_transcripts_pandas(n_convs=120, turns_per_conv=8, vocab_size=2000)


@pytest.fixture(scope="session")
def transcripts_df(spark, transcripts_pdf):
    from solr_mapreduce_indexer_spark.sources.transcripts import TRANSCRIPT_SCHEMA
    return spark.createDataFrame(transcripts_pdf, schema=TRANSCRIPT_SCHEMA)
