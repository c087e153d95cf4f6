"""Index build pipeline: transcripts → posting-block segments + manifest.

Spark-first restatement of the reference's five-phase MR pipeline
(MapReduceIndexerTool five phases, MapReduceIndexerToolArgumentParser.java:66-102):

  randomize  → subsumed by hash routing (uniform by construction)
  mapper     → dedup + murmur3 routing + doc-id assignment (one shuffle by
               unique key, one by shard); tokenize is a JVM expression
               (regexp_extract_all) derived inline by each consumer — never
               cached (array<string> caching measured allocation-bound)
  reducer    → _index_shard_mapper: each task builds its micro-shards'
               complete inverted index in one fused pass (tf count + posting
               grouping + block encode), the exact analog of one reference
               reducer's EmbeddedSolrServer; hot-term skew is bounded because
               a term's postings within one micro-shard are just an array
               slice (no collect_list groups), and shard sizes are uniform by
               murmur3 routing
  mtree merge→ index/merge.py (block concat, addIndexes analog; the last
               level re-cuts each posting list into full blocks, the
               forceMerge analog)
  go-live    → manifest commit (atomic JSON rename)

Doc IDs are two-level exactly like Lucene's per-segment docBase:
  doc_id = (micro_shard << doc_bits) | local_idx
with local_idx = row_number() ordered by (conv_id, turn_idx) within the
micro-shard. This avoids the global-sort shuffle a flat row_number() would
need at 10^12 rows: ordering is only established within each micro-shard (one
window per shard = one reducer's work in the reference), and doc_id order
remains globally consistent with (micro_shard, conv_id, turn_idx).
"""

from __future__ import annotations

import os
from dataclasses import asdict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import fsutil
from ..config import IndexConfig
from ..functions.analysis import tokenize_col
from ..functions.routing import routing_pandas_udf
from ..operators.dedup import RESOLVERS, recency_order
from . import manifest as mf
from .codec import encode_blocks

POSTINGS_SCHEMA = ("shard_id int, term string, first_doc long, last_doc long, "
                   "n int, max_tf int, sum_tf long, min_dl int, "
                   "max_tfnorm double, "
                   "doc_bytes binary, tf_bytes binary, pos_bytes binary")
POSTINGS_COLS = [f.split()[0] for f in POSTINGS_SCHEMA.split(", ")]
# docmap_cols output. Engine reads pass these schemas explicitly: schema
# inference costs one footer-reading Spark job per read (validate.py keeps
# inference on purpose — it is the integrity check).
DOCMAP_SCHEMA = ("shard_id int, doc_id long, conv_id string, turn_idx int, "
                 "role string, ts timestamp, doc_len int, text_hash long")


def prepare_docs(df: DataFrame, cfg: IndexConfig, partitions: int,
                 micro_base: int = 0) -> DataFrame:
    """dedup → route → assign two-level doc ids.

    Output: shard_id, doc_id, conv_id, turn_idx, role, ts, text.

    ONE exchange for the default resolver: shard_id is a pure FUNCTION of the
    dedup key (doc_key = conv_id#turn_idx), so clustering by shard_id already
    colocates every key's rows — a fact the optimizer cannot know, so the
    naive plan paid a second full-row shuffle for the dedup window (guide §8:
    use problem knowledge the optimizer lacks). retain_most_recent therefore
    runs INSIDE the shard partitions: sort by (key, ts desc, text desc,
    role desc, tool desc) and keep each key run's first row via lag() over
    the same shard clustering —
    identical winners to the per-key row_number()==1 window. The doc-id
    window then reuses both the clustering and the sort prefix, so the whole
    phase is: scan → route UDF → Exchange(shard_id) → sort → dedup-filter →
    row_number — raw text crosses the wire exactly once (it crossed three
    exchanges before: dedup by key, doc-id window by shard, postings
    repartition by shard).

    Placement by id: that one exchange is `repartitionById(P, "shard_id")`,
    P = min(partitions, spark.sql.shuffle.partitions), so micro-shard m
    lands in partition m mod P and every partition holds ⌊R/P⌋ or ⌈R/P⌉ of
    the R micro-shards (hash placement put R=16 ids into 10 of 16
    partitions). The docmap write and the level-0 kernel then run P tasks,
    each building its micro-shards one at a time: one Python worker per
    task, not per micro-shard. P is the session's declared shuffle width,
    not defaultParallelism, which under dynamic allocation counts only the
    executors registered when the build is planned.

    micro_base shifts the micro-shard namespace (streaming generations:
    micro = gen*S + shard).

    Deliberately does NOT materialize a tokens column: caching/carrying
    array<string> of ~40+ tokens per row is allocation-bound and anti-scales
    (measured slower at 32 cores than 8); the tokenizer is a cheap JVM
    expression, so each consumer derives tokens inline and streams them into
    its own aggregation."""
    route = routing_pandas_udf(cfg.shards, partitions)
    width = min(partitions, int(df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions")))
    keyed = (df
             .withColumn("doc_key", F.concat_ws("#", F.col("conv_id"),
                                                F.col("turn_idx").cast("string")))
             .withColumn("shard_id", route(F.col("doc_key"))))

    if cfg.conflict_resolver in ("retain_most_recent", "no_change"):
        clustered = keyed.repartitionById(width, "shard_id")
        if cfg.conflict_resolver == "retain_most_recent":
            # the same winner-first order as operators.dedup's
            # retain_most_recent, ties included
            ws = Window.partitionBy("shard_id").orderBy(
                F.col("conv_id"), F.col("turn_idx"),
                *recency_order(keyed, cfg.order_by_field))
            key = F.struct(F.col("conv_id"), F.col("turn_idx"))
            prev = F.lag(key).over(ws)
            clustered = (clustered
                         .withColumn("_first",
                                     prev.isNull() | ~prev.eqNullSafe(key))
                         .where(F.col("_first")).drop("_first"))
    else:
        resolver = RESOLVERS[cfg.conflict_resolver]
        clustered = resolver(keyed, order_by=cfg.order_by_field) \
            .repartitionById(width, "shard_id")

    w = Window.partitionBy("shard_id").orderBy("conv_id", "turn_idx")
    micro = F.col("shard_id").cast("long") + F.lit(int(micro_base))
    return (clustered
            .withColumn("doc_id",
                        micro * F.lit(1 << cfg.doc_bits)
                        + F.row_number().over(w).cast("long") - 1)
            .select("shard_id", "doc_id", "conv_id", "turn_idx", "role", "ts",
                    "text"))


def docmap_cols(docs: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Doc metadata rows for the docmap segment (doc_len/text_hash derived
    inline from text; text itself is not stored)."""
    return (docs
            .withColumn("doc_len", F.size(tokenize_col("text", cfg)))
            .withColumn("text_hash", F.xxhash64("text"))
            .drop("text"))


def term_doc_tf(docs: DataFrame, cfg: IndexConfig) -> DataFrame:
    """Exploded (shard_id, doc_id, doc_len, term, tf) table — the relational
    core of the index build (reference analog: what the EmbeddedSolrServer's
    Lucene writer derives internally per reducer, SolrRecordWriter.java:258-284).
    Tokenization streams directly into the explode + partial agg."""
    toks = docs.select("shard_id", "doc_id",
                       tokenize_col("text", cfg).alias("tokens"))
    return (toks
            .select("shard_id", "doc_id", F.size("tokens").alias("doc_len"),
                    F.explode("tokens").alias("term"))
            .groupBy("shard_id", "doc_id", "doc_len", "term")
            .agg(F.count(F.lit(1)).cast("int").alias("tf")))


def _index_shard_mapper(cfg: IndexConfig, avgdl: float):
    """mapInPandas kernel: a partition of (shard_id, doc_id, doc_len,
    tokens[]) rows, sorted by (shard_id, doc_id), → posting-block rows.

    This is the engine's "reducer": each task builds the complete inverted
    index of the micro-shards it owns, exactly like one reference reducer
    hosting an EmbeddedSolrServer builds one micro-shard's Lucene index
    (SolrReducer.java:40-47, SolrRecordWriter.java:258-284). Fusing
    tf-counting, posting-list grouping, and block encoding into one pass
    means the whole posting build costs ONE shuffle (by shard) instead of
    three (tf agg, posting collect_list, shard repartition) — at 10^12 rows
    the removed shuffles are the dominant cost.

    Vectorization: tokens are factorized to int codes (hash-based), postings
    derived by one lexsort + run-length pass; memory is bounded by one
    micro-shard's tokens (the same contract the reference's 16 GB reducers
    have, MorphlineEnabledIndexerTool.java:177-179 — size R accordingly)."""
    block_size, k1, b = cfg.block_size, cfg.k1, cfg.b
    codec = cfg.posting_codec

    def build_shard(shard: int, doc_ids: list,
                    token_arrays: list) -> pd.DataFrame:
        lens = np.fromiter((len(t) for t in token_arrays), np.int64,
                           len(token_arrays))
        dls = lens  # BM25 doc length == token count, derived here
        if lens.sum() == 0:
            return pd.DataFrame(columns=POSTINGS_COLS)
        all_toks = np.concatenate([np.asarray(t, dtype=object)
                                   for t in token_arrays])
        codes, terms = pd.factorize(all_toks)
        doc_rep = np.repeat(np.asarray(doc_ids, np.int64), lens)
        dl_rep = np.repeat(np.asarray(dls, np.int64), lens)
        order = np.lexsort((doc_rep, codes))
        c, d, dl = codes[order], doc_rep[order], dl_rep[order]
        # run-length over (term code, doc) → tf per posting
        new = np.empty(len(c), dtype=bool)
        new[0] = True
        new[1:] = (c[1:] != c[:-1]) | (d[1:] != d[:-1])
        starts = np.flatnonzero(new)
        tf = np.diff(np.append(starts, len(c)))
        cu, du, dlu = c[starts], d[starts], dl[starts]
        # term boundaries over the posting runs
        tnew = np.empty(len(cu), dtype=bool)
        tnew[0] = True
        tnew[1:] = cu[1:] != cu[:-1]
        tstarts = np.flatnonzero(tnew)
        tends = np.append(tstarts[1:], len(cu))
        out: list[tuple] = []
        for s, e in zip(tstarts, tends):
            term = terms[cu[s]]
            for blk in encode_blocks(du[s:e], tf[s:e], dlu[s:e], avgdl,
                                     block_size=block_size, k1=k1, b=b,
                                     codec=codec):
                out.append((shard, term, blk["first_doc"], blk["last_doc"],
                            blk["n"], blk["max_tf"], blk["sum_tf"],
                            blk["min_dl"], blk["max_tfnorm"],
                            blk["doc_bytes"], blk["tf_bytes"], b""))
        return pd.DataFrame(out, columns=POSTINGS_COLS)

    from ..functions.analysis import tokenize_pandas
    from .fastbuild import build_shard_fast, supports_fast_path

    fast = supports_fast_path(cfg)
    if cfg.positions and not fast:
        raise ValueError("positions=True requires the vectorized kernel "
                         "(posting_codec='for' and the default token "
                         "pattern)")

    def finish(shard: int, doc_ids: np.ndarray, texts) -> pd.DataFrame:
        # input-contract guard (cheap, vectorized): each micro-shard's rows
        # must arrive in strictly increasing doc_id order — build_postings
        # relies on the upstream window's sort instead
        # of re-sorting, so a violated contract must fail loudly here, not
        # silently emit mis-ordered posting blocks
        if len(doc_ids) > 1 and not bool(np.all(np.diff(doc_ids) > 0)):
            raise ValueError(
                f"micro-shard {shard}: doc_ids not strictly increasing — "
                "build_postings input must be sorted by (shard_id, doc_id)")
        if fast:
            return build_shard_fast(shard, doc_ids, texts, cfg, avgdl,
                                    POSTINGS_COLS)
        toks = tokenize_pandas(pd.Series(texts), cfg).to_numpy()
        return build_shard(shard, list(doc_ids), list(toks))

    def index_partition(batches):
        from .codec import tune_allocator
        tune_allocator()  # worker-side: heap reuse for the kernel's buffers
        # Tokenize HERE (python) rather than JVM-side: shipping raw text
        # over Arrow is ~2.5x fewer bytes than shipping token arrays, and
        # the virtualized socket path is the bottleneck. Rows arrive sorted
        # by (shard_id, doc_id), so micro-shards are contiguous runs —
        # detected vectorized, never a per-row Python loop. The fast kernel
        # (fastbuild.py) tokenizes/factorizes/encodes with zero per-token
        # Python objects; non-default analysis configs use the generic path.
        cur = None
        id_chunks: list[np.ndarray] = []
        txt_chunks: list[np.ndarray] = []
        for pdf in batches:
            sh = pdf["shard_id"].to_numpy()
            if not len(sh):
                continue
            ids = pdf["doc_id"].to_numpy()
            txt = pdf["text"].to_numpy()
            cuts = np.flatnonzero(sh[1:] != sh[:-1]) + 1
            bounds = np.concatenate(([0], cuts, [len(sh)]))
            for s, e in zip(bounds[:-1], bounds[1:]):
                shard = int(sh[s])
                if shard != cur:
                    if cur is not None:
                        yield finish(cur, np.concatenate(id_chunks),
                                     np.concatenate(txt_chunks))
                    cur, id_chunks, txt_chunks = shard, [], []
                id_chunks.append(ids[s:e])
                txt_chunks.append(txt[s:e])
        if cur is not None:
            yield finish(cur, np.concatenate(id_chunks),
                         np.concatenate(txt_chunks))

    return index_partition


def build_postings(docs: DataFrame, cfg: IndexConfig,
                   avgdl: float) -> DataFrame:
    """prepare_docs output → compressed posting-block rows: raw text crosses
    Arrow once and each micro-shard's index is built by a single fused
    kernel (tokenize → tf → posting lists → blocks; see
    _index_shard_mapper).

    No shuffle and no sort: prepare_docs already placed each micro-shard in
    one partition (by id) and ordered the rows (shard_id, conv_id,
    turn_idx) with its doc-id window, which is doc_id order by
    construction. SortExec cannot prove that the derived doc_id keeps that
    order, so an explicit sort would re-sort sorted data. The kernel guards
    the contract: a non-monotonic doc_id run fails loudly (see
    _index_shard_mapper) rather than silently mis-building postings."""
    return (docs.select("shard_id", "doc_id", "text")
            .mapInPandas(_index_shard_mapper(cfg, avgdl),
                         schema=POSTINGS_SCHEMA))


def shard_payload_bytes(segments_path: str) -> dict[int, int]:
    """On-disk bytes of the data files in each `shard_id=N` directory of a
    partitioned level: one recursive listing through `fsutil.arrow_fs`, the
    filesystem every read-side path uses, never a payload read."""
    import pyarrow.fs as pafs
    fs, base = fsutil.arrow_fs(segments_path)
    base = base.rstrip("/")
    sizes: dict[int, int] = {}
    for f in fs.get_file_info(pafs.FileSelector(base, recursive=True,
                                                allow_not_found=True)):
        parts = f.path[len(base) + 1:].split("/")
        if (f.type == pafs.FileType.File and len(parts) == 2
                and parts[0].startswith("shard_id=")
                and not f.base_name.startswith((".", "_"))):
            sid = int(parts[0].split("=", 1)[1])
            sizes[sid] = sizes.get(sid, 0) + f.size
    return sizes


def segment_metrics(spark: SparkSession, segments_path: str) -> list[dict]:
    """Per-shard lineage/metrics rows for the manifest (north rule: per-
    partition lineage + posting/byte metrics; reference counters analog
    SolrCounters.java:23-39).

    Reads only metadata columns (parquet column pruning) — payload bytes come
    from the segment files' on-disk sizes, so this never re-reads posting
    payloads (which would scan the whole index once per merge level). The
    ≤|shards| result rows are sorted on the driver: an orderBy would add a
    range-sampling job and a second exchange."""
    seg = spark.read.schema(POSTINGS_SCHEMA).parquet(segments_path)
    rows = sorted(seg.groupBy("shard_id")
                  .agg(F.countDistinct("term").alias("n_terms"),
                       F.count(F.lit(1)).alias("n_blocks"),
                       F.sum("n").alias("n_postings"))
                  .collect(), key=lambda r: r["shard_id"])
    sizes = shard_payload_bytes(segments_path)
    return [r.asDict() | {"payload_bytes": sizes.get(r["shard_id"], -1)}
            for r in rows]


def write_term_stats(spark: SparkSession, blocks_path: str,
                     out_path: str) -> int:
    """Global df/cf for BM25 idf, derived from posting-block METADATA
    (term, n, sum_tf — parquet column pruning never touches payload bytes),
    written range-partitioned + sorted by term; returns n_terms.

    The count rides the write job as an Observation metric (observe sits
    ABOVE repartitionByRange so the range-sampling job never passes through
    the metrics node) — no read-back count job."""
    from pyspark.sql import Observation
    ts = (spark.read.schema(POSTINGS_SCHEMA).parquet(blocks_path)
          .groupBy("term")
          .agg(F.sum("n").cast("long").alias("df"),
               F.sum("sum_tf").cast("long").alias("cf")))
    n_part = max(1, int(spark.conf.get("spark.sql.shuffle.partitions")) // 4)
    obs = Observation()
    # persist the aggregate: repartitionByRange SAMPLES its child to pick
    # range bounds, which would otherwise execute the whole groupBy twice
    # (once for the sampling job, once for the write) — at scale that is a
    # second full pass over the index metadata
    ts = ts.persist()
    try:
        (ts.repartitionByRange(n_part, "term")
           .observe(obs, F.count(F.lit(1)).alias("n_terms"))
           .sortWithinPartitions("term")
           .write.mode("overwrite").parquet(out_path))
        return int(obs.get["n_terms"])
    finally:
        ts.unpersist()


def build_index(spark: SparkSession, df: DataFrame, cfg: IndexConfig,
                index_dir: str, input_path: str = "<dataframe>",
                resume: bool = True) -> dict:
    """Full build: docs → docmap+stats → postings level 0 → tree merge →
    manifest. Checkpoint-resumable at phase/level granularity."""
    from ..session import ensure_shipped
    from .merge import merge_to_target  # local import to avoid cycle

    ensure_shipped(spark)
    fsutil.mkdirs(index_dir)
    partitions, fanout, n_iters = cfg.plan_build_partitions()

    docmap_path = os.path.join(index_dir, "docmap")
    term_stats_path = os.path.join(index_dir, "term_stats")
    level0_path = os.path.join(index_dir, "segments", "level_0")

    docs = None

    def get_docs() -> DataFrame:
        # cached rows are scalar columns + raw text — cheap to build; tokens
        # are derived inline by each consumer (see prepare_docs docstring)
        nonlocal docs
        if docs is None:
            docs = prepare_docs(df, cfg, partitions).persist()
        return docs

    # --- phase: docmap + corpus stats ---------------------------------------
    import time
    ck = mf.read_checkpoint(index_dir, "docmap") if resume else None
    if ck is None:
        from pyspark.sql import Observation
        t0 = time.time()
        # corpus stats ride the write job as Observation metrics instead of
        # a second full docmap scan: one fewer Spark job of
        # corpus-size-independent scheduling latency per build. prepare_docs
        # already placed rows by shard_id and sorted them (its doc-id
        # window), so the partitionBy write needs no repartition and no
        # sort, and each of its tasks writes one file per micro-shard. The
        # CollectMetrics node therefore runs in the RESULT stage (downstream
        # of prepare_docs' exchange — on re-runs from the populated cache
        # the whole job IS one result stage), where Spark's exactly-once
        # accumulator guarantee holds; in a shuffle-map stage, a
        # fetch-failure retry or speculative task would double-count
        # n_docs/avgdl and silently skew BM25 idf on a real cluster.
        obs = Observation()
        (docmap_cols(get_docs(), cfg)
          .observe(obs, F.count(F.lit(1)).alias("n_docs"),
                   F.avg("doc_len").alias("avgdl"),
                   F.sum("doc_len").alias("total_tokens"))
          .write.mode("overwrite").option("compression", cfg.compression)
          .partitionBy("shard_id").parquet(docmap_path))
        agg = obs.get
        stats = {"n_docs": int(agg["n_docs"]),
                 "avgdl": float(agg["avgdl"] or 0.0),
                 "total_tokens": int(agg["total_tokens"] or 0)}
        mf.write_checkpoint(index_dir, "docmap",
                            {"path": docmap_path, "stats": stats,
                             "partitions": partitions,
                             "wall_s": round(time.time() - t0, 2)})
        ck = mf.read_checkpoint(index_dir, "docmap")
    stats = ck["stats"]

    # --- phase: level-0 posting segments ------------------------------------
    if not (resume and mf.read_checkpoint(index_dir, "level_0")):
        t0 = time.time()
        postings = build_postings(get_docs(), cfg, stats["avgdl"])
        # level 0 is rewritten by the merge tree when one exists — write it
        # with the cheap codec then; only a merge-less build serves from it
        l0_codec = (cfg.intermediate_compression if n_iters > 0
                    else cfg.compression)
        # shard_id leads the sort: a task writes several micro-shards, and
        # with ("term", "first_doc") alone the partitioned writer re-sorts
        # by shard_id and the optimizer drops the inner sort
        (postings.sortWithinPartitions("shard_id", "term", "first_doc")
                 .write.mode("overwrite").option("compression", l0_codec)
                 .partitionBy("shard_id").parquet(level0_path))
        mf.write_checkpoint(index_dir, "level_0", {
            "path": level0_path, "n_shards": partitions,
            "wall_s": round(time.time() - t0, 2),
            "segments": segment_metrics(spark, level0_path),
            "lineage": {"input": input_path,
                        "resolver": cfg.conflict_resolver,
                        "routing": f"murmur3_x86_32 % (S={cfg.shards}, R={partitions})"},
        })
    if docs is not None:
        docs.unpersist()

    # --- phases: term stats ∥ tree merge ------------------------------------
    # Both depend ONLY on level 0 and not on each other, so they run as
    # concurrent driver-submitted jobs (guide §2.6: actions are sequential
    # only because driver code calls them sequentially): the metadata-only
    # term-stats aggregation back-fills executors left idle by the merge
    # stages' tails instead of adding its own serial barrier. Job
    # descriptions are thread-local, so UI labels stay correct; each phase
    # keeps its own checkpoint commit.
    def _term_stats_phase() -> int:
        # Derived from level-0 block METADATA (term, n, sum_tf): parquet
        # column pruning means this never touches posting payload bytes —
        # much cheaper than re-exploding tokens for a second full shuffle.
        if not (resume and mf.read_checkpoint(index_dir, "term_stats")):
            t0 = time.time()
            n_terms = write_term_stats(spark, level0_path, term_stats_path)
            mf.write_checkpoint(index_dir, "term_stats",
                                {"path": term_stats_path, "n_terms": n_terms,
                                 "wall_s": round(time.time() - t0, 2)})
        return mf.read_checkpoint(index_dir, "term_stats")["n_terms"]

    levels = [mf.read_checkpoint(index_dir, "level_0")
              | {"level": 0, "fanout": fanout}]
    if n_iters > 0:
        from concurrent.futures import ThreadPoolExecutor
        with ThreadPoolExecutor(max_workers=1) as pool:
            ts_future = pool.submit(_term_stats_phase)
            levels += merge_to_target(spark, index_dir, cfg, partitions,
                                      fanout, n_iters, resume=resume)
            stats["n_terms"] = ts_future.result()
    else:
        stats["n_terms"] = _term_stats_phase()

    return mf.write_manifest(index_dir, cfg, stats, levels, input_path)
