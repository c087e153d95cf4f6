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
