"""Settings read without a Spark session: the default shuffle width of a
master URL, and an index config read back from a manifest."""

from __future__ import annotations

import dataclasses
import json

import pytest

from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.session import default_shuffle_partitions


@pytest.mark.parametrize("master, want", [
    ("local[4]", 4),
    ("local[*]", 6),
    ("local[2,3]", 2),        # N cores, F task retries
    ("local[*,3]", 6),
    ("local-cluster[2,1,1024]", 2),
    ("local-cluster[3,2,1024]", 6),
    ("yarn", 6),
])
def test_default_shuffle_partitions(master, want):
    assert default_shuffle_partitions(master, cpus=6) == want


def test_config_from_manifest_round_trips():
    cfg = IndexConfig(shards=3, reducers=12, fanout=2, positions=True,
                      stopwords=("the", "a"))
    # a manifest stores the config as JSON: the stopwords tuple comes back
    # as a list
    stored = json.loads(json.dumps(dataclasses.asdict(cfg)))
    assert IndexConfig.from_dict(stored) == cfg


def test_config_from_manifest_ignores_retired_keys():
    """Manifests written before `chunk_bits` was retired still load."""
    stored = dataclasses.asdict(IndexConfig(shards=2))
    stored["chunk_bits"] = 18
    assert IndexConfig.from_dict(stored) == IndexConfig(shards=2)
