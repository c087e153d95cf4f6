"""Incremental / streaming index ingest.

The reference is a pure batch pipeline (no streaming operator exists in it —
SURVEY §2.8; fault tolerance is "rerun the job",
MapReduceIndexerToolArgumentParser.java:100-102). Its deployment story,
though, is incremental: batch-built shards are routed with the SAME murmur3
compositeId semantics as SolrCloud's near-real-time updates precisely so new
documents can keep flowing into the same collection
(SolrCloudPartitioner.java:40-50). This module is the Spark-native version of
that story: Structured Streaming micro-batches append **generations** of
posting segments to an index directory, and a finalize pass commits a
standard queryable manifest.

Design:

* Each micro-batch b becomes generation g=b with its own micro-shard id
  space: ``doc_id = ((g*S + shard) << doc_bits) | local_idx``. Within a final
  shard, generations occupy disjoint ascending doc-id ranges, so
  ``finalize_stream_index`` combines them with index/merge.py's
  ``concat_segments``, the concat merge-indexes uses: docmap rows are copied
  out, posting rows exchanged by shard_id because generations share the S
  root shards (one file per served shard) — never a posting rewrite.
* ``append_batch`` is idempotent per generation id (checkpoint-exists skip),
  so ``foreachBatch`` retries after failure give exactly-once segments.
* BM25's global stats (N, avgdl) drift as data arrives. Posting payloads are
  immutable and store raw tf, and doc lengths live in the docmap — scores
  stay exact under any avgdl. Only
  the block-max pruning bound bakes avgdl in; ``concat_segments``
  recomputes it as a pure column expression from the avgdl-independent
  metadata pair (max_tf, min_dl): tfnorm is increasing in tf and decreasing
  in dl, so tfnorm(max_tf, min_dl, avgdl_final) upper-bounds every posting in
  the block — no payload decode, no Python.
* Cross-generation duplicate keys are NOT resolved at append time (the
  engine cannot delete from committed segments, same as Lucene segments
  pre-merge). ``finalize_stream_index`` RESOLVES them: the configured
  resolver picks one winner per key (retain-most-recent by default) and the
  losers become tombstones — subtracted by the query kernel and validator,
  physically purged by ``compact`` (the Lucene deleted-docs lifecycle;
  reference resolves every collision before serving,
  SolrReducer.java:80-108).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..config import IndexConfig
from .. import fsutil
from ..index import manifest as mf
from ..index.build import build_postings, docmap_cols, segment_metrics
from ..index.merge import concat_segments


def _gen_phase(gen: int) -> str:
    return f"gen_{gen}"


def _prepare_gen_docs(df: DataFrame, cfg: IndexConfig, gen: int) -> DataFrame:
    """build.prepare_docs with doc ids in generation gen's micro-shard
    namespace (micro = gen*S + shard). Root-shard routing: partitions == S,
    which routing treats as root-shard assignment (route_keys). Shares the
    fused single-exchange dedup+route+doc-id plan."""
    from ..index.build import prepare_docs
    return prepare_docs(df, cfg, cfg.shards, micro_base=gen * cfg.shards)


def append_batch(spark: SparkSession, df: DataFrame, cfg: IndexConfig,
                 index_dir: str, gen: int) -> dict:
    """Append one generation of segments. Idempotent per (index_dir, gen):
    a committed generation checkpoint short-circuits (foreachBatch replays
    after failure therefore produce each segment exactly once)."""
    from ..session import ensure_shipped

    ck = mf.read_checkpoint(index_dir, _gen_phase(gen))
    if ck is not None:
        return ck
    ensure_shipped(spark)
    fsutil.mkdirs(index_dir)

    docmap_path = os.path.join(index_dir, f"docmap_gen_{gen}")
    seg_path = os.path.join(index_dir, "segments", f"gen_{gen}")

    docs = _prepare_gen_docs(df, cfg, gen).persist()
    # prepare_docs output is already placed by shard_id — write directly,
    # no re-shuffle; the stats ride the write's result stage as
    # Observation metrics (counted once, as in build_index)
    obs = Observation()
    (docmap_cols(docs, cfg)
         .observe(obs, F.count(F.lit(1)).alias("n_docs"),
                  F.sum("doc_len").alias("total_tokens"))
         .write.mode("overwrite").option("compression", cfg.compression)
         .partitionBy("shard_id").parquet(docmap_path))
    n_docs = int(obs.get["n_docs"])
    total_tokens = int(obs.get["total_tokens"] or 0)
    if n_docs == 0:
        docs.unpersist()
        payload = {"path": None, "n_docs": 0, "total_tokens": 0, "gen": gen}
        mf.write_checkpoint(index_dir, _gen_phase(gen), payload)
        return payload

    avgdl_batch = total_tokens / n_docs  # encoding-time bound only; finalize
    # recomputes bounds from (max_tf, min_dl) with the global avgdl.
    postings = build_postings(docs, cfg, avgdl_batch)
    # shard_id first, as in build_index's level 0: a task may hold several
    # shards, and the partitioned writer would otherwise drop the term sort
    (postings.sortWithinPartitions("shard_id", "term", "first_doc")
             .write.mode("overwrite")
             .option("compression", cfg.intermediate_compression)
             .partitionBy("shard_id").parquet(seg_path))
    docs.unpersist()

    # NOTE: docmap path is NOT stored (manifest._relativize only rebases the
    # 'path' key, so an absolute docmap path would break index relocation —
    # an un-finalized streaming index copied elsewhere would read the old
    # location); list_generations derives it from index_dir + gen instead.
    payload = {"path": seg_path, "gen": gen,
               "n_docs": n_docs, "total_tokens": total_tokens,
               "lineage": {"mode": "stream_append", "generation": gen,
                           "routing": f"murmur3_x86_32 % S={cfg.shards}"}}
    mf.write_checkpoint(index_dir, _gen_phase(gen), payload)
    return payload


def stream_ingest(spark: SparkSession, stream_df: DataFrame, cfg: IndexConfig,
                  index_dir: str, checkpoint_location: str, **trigger):
    """Attach the appender to a streaming transcripts DataFrame.

    Returns the started StreamingQuery. Generation id = micro-batch id, so
    Spark's offset checkpointing + append_batch's idempotence give
    exactly-once segment generations end-to-end. Example::

        q = stream_ingest(spark, spark.readStream.schema(TRANSCRIPT_SCHEMA)
                                       .parquet(landing_dir),
                          cfg, idx_dir, ckpt_dir, availableNow=True)
        q.awaitTermination()
        finalize_stream_index(spark, idx_dir, cfg)
    """
    if not trigger:
        trigger = {"processingTime": "30 seconds"}

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(batch_df.sparkSession, batch_df, cfg, index_dir,
                     gen=int(batch_id))

    return (stream_df.writeStream
            .foreachBatch(_apply)
            .option("checkpointLocation", checkpoint_location)
            .trigger(**trigger)
            .start())


def list_generations(index_dir: str) -> list[dict]:
    gens = []
    g = 0
    while True:
        ck = mf.read_checkpoint(index_dir, _gen_phase(g))
        if ck is None:
            break
        # derive per-generation docmap location (relocation-safe: both the
        # checkpoint 'path' and this are rooted at the current index_dir)
        ck = dict(ck, docmap=os.path.join(index_dir, f"docmap_gen_{g}"))
        gens.append(ck)
        g += 1
    return gens


def finalize_stream_index(spark: SparkSession, index_dir: str,
                          cfg: IndexConfig) -> dict:
    """Commit all generations as one standard queryable index: one
    concat_segments call with no shift (doc ids and root shards already line
    up), which also resolves cross-generation duplicate keys into tombstones
    (reference resolves every collision before serving,
    SolrReducer.java:80-108)."""
    from ..session import ensure_shipped
    ensure_shipped(spark)

    gens = [g for g in list_generations(index_dir) if g["n_docs"] > 0]
    if not gens:
        raise ValueError(f"no generations to finalize in {index_dir}")
    n_docs = sum(g["n_docs"] for g in gens)
    total_tokens = sum(g["total_tokens"] for g in gens)
    avgdl = total_tokens / n_docs

    out = concat_segments(spark, [(g["docmap"], g["path"], 0, 0) for g in gens],
                          cfg, avgdl, index_dir, "stream_final")
    n_terms, dup_keys = out["n_terms"], out["n_tombstones"]
    mf.write_checkpoint(index_dir, "docmap", {
        "path": out["docmap"],
        "stats": {"n_docs": n_docs, "avgdl": avgdl,
                  "total_tokens": total_tokens},
        "partitions": cfg.shards})
    mf.write_checkpoint(index_dir, "term_stats",
                        {"path": out["term_stats"], "n_terms": n_terms})
    level = {"level": 0, "path": out["level"], "n_shards": cfg.shards,
             "segments": segment_metrics(spark, out["level"]),
             "lineage": {"generations": [g["gen"] for g in gens],
                         "duplicate_keys": dup_keys}}
    mf.write_checkpoint(index_dir, "level_0", level)
    stats = {"n_docs": n_docs, "avgdl": avgdl, "total_tokens": total_tokens,
             "n_terms": n_terms, "duplicate_keys": dup_keys,
             "n_tombstones": dup_keys, "n_live_docs": n_docs - dup_keys}
    return mf.write_manifest(index_dir, cfg, stats, [level],
                             input_path=f"stream:{len(gens)} generations",
                             tombstones=out["tombstones"])
