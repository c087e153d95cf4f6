import pandas as pd
import pytest
from pyspark.sql import functions as F

from solr_mapreduce_indexer_spark.operators.dedup import (
    ConflictError, dedup_metrics, no_change, reject_conflicts,
    retain_most_recent, sort_updates)
from solr_mapreduce_indexer_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA, synth_transcripts_pandas)


@pytest.fixture(scope="module")
def conflicts_df(spark):
    pdf = synth_transcripts_pandas(n_convs=40, turns_per_conv=5,
                                   vocab_size=500, conflict_frac=0.1)
    return spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA), pdf


def test_retain_most_recent_keeps_max_ts(spark, conflicts_df):
    df, pdf = conflicts_df
    got = retain_most_recent(df).toPandas()
    # one row per key
    assert not got.duplicated(["conv_id", "turn_idx"]).any()
    assert len(got) == pdf.groupby(["conv_id", "turn_idx"]).ngroups
    # survivor has the max ts of its key (reference:
    # dedup/RetainMostRecentUpdateConflictResolver.java:71-112)
    max_ts = pdf.groupby(["conv_id", "turn_idx"])["ts"].max().reset_index()
    merged = got.merge(max_ts, on=["conv_id", "turn_idx"], suffixes=("", "_max"))
    assert (merged["ts"] == merged["ts_max"]).all()


def test_retain_most_recent_deterministic_on_ts_ties(spark, conflicts_df):
    df, _ = conflicts_df
    a = retain_most_recent(df).orderBy("conv_id", "turn_idx").toPandas()
    b = retain_most_recent(df.repartition(7)).orderBy("conv_id", "turn_idx").toPandas()
    pd.testing.assert_frame_equal(a, b)


def test_sort_updates_keeps_all_ordered(spark, conflicts_df):
    df, pdf = conflicts_df
    got = sort_updates(df)
    assert got.count() == len(pdf)
    # within each spark partition, rows of a key are adjacent & ts-ascending
    def check(it):
        import pandas as pd_
        for p in it:
            for _, g in p.groupby(["conv_id", "turn_idx"]):
                ok = g["ts"].is_monotonic_increasing
                yield pd_.DataFrame({"ok": [bool(ok)]})
    res = got.mapInPandas(check, schema="ok boolean").toPandas()
    assert res["ok"].all()


def test_reject_conflicts_raises(spark, conflicts_df):
    # the check is lazy (an assert inside the plan, not a hidden eager job):
    # constructing the plan succeeds, executing it fails on a duplicate key
    df, _ = conflicts_df
    plan = reject_conflicts(df)
    with pytest.raises(Exception, match="duplicate unique key"):
        plan.count()
    clean = retain_most_recent(df)
    assert reject_conflicts(clean).count() == clean.count()


def test_no_change_passthrough(spark, conflicts_df):
    df, pdf = conflicts_df
    assert no_change(df).count() == len(pdf)


def test_dedup_metrics_counters(spark, conflicts_df):
    df, pdf = conflicts_df
    m = dedup_metrics(df).collect()[0]
    n_keys = pdf.groupby(["conv_id", "turn_idx"]).ngroups
    assert m["n_docs"] == len(pdf)
    assert m["n_keys"] == n_keys
    assert m["n_duplicates"] == len(pdf) - n_keys


def _tie_corpus():
    """Versions of one key that tie beyond (ts, text), among filler rows."""
    ts = pd.Timestamp("2024-03-01 10:00:00")
    rows = [
        # equal (key, ts, text): the greatest role wins
        ("tie0", 0, "assistant", "same text here", None, ts),
        ("tie0", 0, "user", "same text here", None, ts),
        ("tie0", 0, "tool", "same text here", "bash", ts),
        # equal (key, ts, text, role): the greatest tool wins, null lowest
        ("tie1", 0, "tool", "run it", None, ts),
        ("tie1", 0, "tool", "run it", "sql", ts),
        ("tie1", 0, "tool", "run it", "bash", ts),
        # the newer version wins whole, null tool included
        ("new1", 0, "assistant", "newer answer", None, ts),
        ("new1", 0, "tool", "older answer", "grep",
         ts - pd.Timedelta(minutes=5)),
    ]
    ties = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "text",
                                       "tool", "ts"])
    filler = synth_transcripts_pandas(n_convs=20, turns_per_conv=4,
                                      vocab_size=300, conflict_frac=0.1)
    return pd.concat([ties, filler], ignore_index=True)


WINNERS = {"tie0": ("user", None), "tie1": ("tool", "sql"),
           "new1": ("assistant", None)}


def test_ties_beyond_ts_and_text_are_deterministic(spark, tmp_path):
    """Ties break on role, then tool: two builds of differently ordered
    input give identical docmaps, equal to retain_most_recent's winners and
    to PandasOracle's."""
    from solr_mapreduce_indexer_spark.config import IndexConfig
    from solr_mapreduce_indexer_spark.index.build import build_index
    from solr_mapreduce_indexer_spark.query.oracle import PandasOracle

    pdf = _tie_corpus()
    fwd = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    rev = spark.createDataFrame(pdf.iloc[::-1], schema=TRANSCRIPT_SCHEMA) \
        .repartition(3)

    cols = ["conv_id", "turn_idx", "role", "tool", "text"]
    winners = [retain_most_recent(df)
               .select(*cols, F.xxhash64("text").alias("text_hash"))
               .toPandas()
               .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
               for df in (fwd, rev)]
    pd.testing.assert_frame_equal(winners[0], winners[1])
    won = winners[0].set_index("conv_id")
    for key, (role, tool) in WINNERS.items():
        assert (won.at[key, "role"], won.at[key, "tool"]) == (role, tool), key

    oracle = PandasOracle(pdf, shards=2, partitions=2).docs
    got = (oracle[cols].sort_values(["conv_id", "turn_idx"])
           .reset_index(drop=True).astype({"turn_idx": "int32"}))
    pd.testing.assert_frame_equal(got.fillna(value=pd.NA).astype(object),
                                  winners[0][cols].fillna(value=pd.NA)
                                  .astype(object))

    docmaps = []
    for name, df in (("fwd", fwd), ("rev", rev)):
        idx = str(tmp_path / name)
        build_index(spark, df, IndexConfig(shards=2), idx)
        docmaps.append(spark.read.parquet(f"{idx}/docmap").toPandas()
                       .sort_values("doc_id").reset_index(drop=True))
    pd.testing.assert_frame_equal(docmaps[0], docmaps[1])
    dm = docmaps[0].set_index("conv_id")
    for key, (role, _tool) in WINNERS.items():
        assert dm.at[key, "role"] == role, key
    src = winners[0]
    assert sorted(zip(dm.index, dm["turn_idx"], dm["role"], dm["text_hash"])) \
        == sorted(zip(src["conv_id"], src["turn_idx"], src["role"],
                      src["text_hash"]))
