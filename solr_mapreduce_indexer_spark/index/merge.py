"""mtree merge: fanout-F tree reduction of micro-shard segments.

Spark restatement of the reference's mapper-only merge jobs
(IndexMergeTool.java:104-171, iteration count `:96-101`): each iteration maps
micro-shard F-groups to one merged shard. Because our doc ids embed the
micro-shard in the high bits and micro-shards of a root shard are contiguous
(micro = root*(R/S) + offset, SolrCloudPartitioner.java:133-136), merging is a
*metadata-level concat* exactly like Lucene IndexWriter.addIndexes
(TreeMergeOutputFormat.java:141-158): posting blocks from sibling micro-shards
have disjoint, ordered doc-id ranges, so the merged posting list is just the
union of block rows — no decode, no rewrite, no shuffle beyond the re-tag.

concat_segments is the one concat of independently written segments:
merge_indexes (the cross-index MergeIndexes analog, GoLiveTool.java:107-120)
and streaming finalize both call it. Each input's doc ids are shifted into a
range of micro-shards it owns, so docmap rows are copied out with no
exchange; posting rows are exchanged by shard_id only when two inputs share
an output shard (stream generations), else copied out as well (merge_indexes
gives every input its own output shards).

Physical compaction (the forceMerge(maxSegments) analog,
TreeMergeOutputFormat.java:170-183) optionally re-encodes each (shard, term)'s
blocks into full-size blocks at the final level.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fsutil
from ..config import IndexConfig
from . import manifest as mf
from .build import (DOCMAP_SCHEMA, POSTINGS_SCHEMA, segment_metrics,
                    shard_payload_bytes, write_term_stats)
from .codec import decode_block, encode_blocks


def level_path(index_dir: str, level: int) -> str:
    return os.path.join(index_dir, "segments", f"level_{level}")


def merge_level(spark: SparkSession, index_dir: str, level: int,
                fanout: int, n_shards_in: int,
                compression: str = "zstd",
                level_bytes: int | None = None) -> tuple[str, int]:
    """One tree-merge iteration: level → level+1, shard_id //= fanout."""
    src = spark.read.schema(POSTINGS_SCHEMA).parquet(level_path(index_dir, level))
    n_out = -(-n_shards_in // fanout)
    dst_path = level_path(index_dir, level + 1)
    # Sub-split each output shard by term so write parallelism isn't capped
    # at the (shrinking) shard count: a shard dir holds several term-hashed
    # files, each internally sorted — readers sort blocks by first_doc anyway
    # and a term's blocks stay within one file.
    n_tasks = max(n_out, 2 * spark.sparkContext.defaultParallelism)
    if level_bytes and level_bytes > 0:
        # Scale-adaptive task count: ~8 MB of source payload per merge task
        # amortizes task scheduling + writer-open overhead and keeps output
        # files from fragmenting (guide: derive partitioning from input size,
        # don't pin it to the local core count). Large levels still clamp UP
        # to 2x parallelism; tiny levels collapse to n_out tasks — few files
        # per shard dir, which also makes the query side's per-shard dataset
        # open cheaper (a 12 MB sf0.1 level went 64 tasks -> 4, and 64 -> 4
        # files per served shard dir).
        n_tasks = max(n_out, min(n_tasks, -(-level_bytes // (8 << 20))))
    (src.withColumn("shard_id",
                    (F.col("shard_id") / fanout).cast("int"))
        .repartition(n_tasks, "shard_id", "term")
        .sortWithinPartitions("term", "first_doc")
        .write.mode("overwrite").option("compression", compression)
        .partitionBy("shard_id").parquet(dst_path))
    return dst_path, n_out


def _compact_mapper(cfg: IndexConfig, avgdl: float, docmap_path: str,
                    tombstones_path: str | None = None):
    """applyInPandas kernel: all blocks of one (shard, term) → re-encoded
    full-size blocks (decode + concat + encode). Exactness: doc/tf values
    round-trip the codec; min_dl and max_tfnorm are recomputed from the
    docmap's doc lengths (read once per shard per worker process, like the
    tombstones) under the same avgdl.
    Tombstoned docs are PURGED — the Lucene merge-applies-deletes lifecycle.
    Each kernel reads only ITS OWN doc-id slice of the tombstone parquet
    (row-group-pruned, cached per worker process per shard) — the tombstone
    set never lands on the driver or in a broadcast."""
    def compact(pdf: pd.DataFrame) -> pd.DataFrame:
        from .build import POSTINGS_COLS as _COLS
        from .codec import decode_positions, encode_positions, tune_allocator
        from .tombstones import (doc_lens_of, load_doc_lens,
                                 load_tombstones_range)
        tune_allocator()
        tombstones = None
        if tombstones_path is not None and len(pdf):
            tombstones = load_tombstones_range(
                tombstones_path, int(pdf["first_doc"].min()),
                int(pdf["last_doc"].max()), cfg.doc_bits)
        pdf = pdf.sort_values("first_doc")
        has_pos = "pos_bytes" in pdf.columns and any(
            p is not None and len(p) for p in pdf["pos_bytes"])
        docs, tfs, pflat = [], [], []
        for r in pdf.itertuples(index=False):
            d, t = decode_block(r.doc_bytes, r.tf_bytes, r.first_doc)
            if has_pos:
                pflat.append(decode_positions(r.pos_bytes, t)[0])
            docs.append(d); tfs.append(t)
        d = np.concatenate(docs); t = np.concatenate(tfs)
        pp = np.concatenate(pflat) if has_pos else None
        if tombstones is not None and len(tombstones):
            pos = np.searchsorted(tombstones, d)
            pos = np.clip(pos, 0, len(tombstones) - 1)
            keep = tombstones[pos] != d
            if has_pos:  # drop the purged postings' position runs too
                pp = pp[np.repeat(keep, t)]
            d, t = d[keep], t[keep]
            if not len(d):
                return pd.DataFrame(columns=_COLS)
        # after the purge: a compacted docmap holds only live docs
        ln = doc_lens_of(*load_doc_lens(docmap_path, pdf["first_doc"],
                                        pdf["last_doc"], cfg.doc_bits), d)
        shard = int(pdf["shard_id"].iloc[0]); term = pdf["term"].iloc[0]
        ct = np.concatenate(([0], np.cumsum(t)))  # token offset per posting
        # explicit column order — a partitioned-parquet read reorders input
        # columns (partition col last), so pdf.columns must not be reused
        rows = []
        for bi, b in enumerate(encode_blocks(d, t, ln, avgdl, cfg.block_size,
                                             cfg.k1, cfg.b,
                                             cfg.posting_codec)):
            s, e = bi * cfg.block_size, bi * cfg.block_size + b["n"]
            pb = (encode_positions(pp[ct[s]:ct[e]], t[s:e])
                  if has_pos else b"")
            rows.append((shard, term, b["first_doc"], b["last_doc"], b["n"],
                         b["max_tf"], b["sum_tf"], b["min_dl"],
                         b["max_tfnorm"], b["doc_bytes"], b["tf_bytes"], pb))
        return pd.DataFrame(rows, columns=_COLS)

    return compact


def compact_level(spark: SparkSession, src_path: str, docmap_path: str,
                  cfg: IndexConfig, avgdl: float, n_shards: int,
                  tombstones_path: str | None = None) -> str:
    """forceMerge(maxSegments) analog: rewrite a level so every (shard, term)
    posting list uses full blocks (fragmentation from chunked encoding / tree
    merge gone), leaving at most cfg.max_segments files per shard directory
    (reference --max-segments, default 1,
    MapReduceIndexerToolArgumentParser.java:269-283; BatchWriter.java:205-208).

    `src_path` is the level's MANIFEST path, not a level number — merged
    (`merged_0`) and stream-finalized (`stream_final`) indexes don't follow
    the `level_N` naming, and deriving the path from the number read the
    wrong (nonexistent) directory for them.

    max_segments > 1 trades file count for write parallelism: each shard's
    rows are salted into max_segments groups by term hash (a term's blocks
    stay within one file), so a shard is written by up to max_segments tasks.
    Rows are placed by id, (shard, salt) → partition shard·m + salt, so no
    two shards share a task, and each file is sorted by (term, first_doc)."""
    src = spark.read.schema(POSTINGS_SCHEMA).parquet(src_path)
    dst = src_path.rstrip("/") + "_compact"
    m = max(1, int(cfg.max_segments))
    out = (src.groupBy("shard_id", "term")
           .applyInPandas(_compact_mapper(cfg, avgdl, docmap_path,
                                          tombstones_path),
                          schema=POSTINGS_SCHEMA))
    pid = F.col("shard_id")
    if m > 1:
        pid = pid * m + F.pmod(F.xxhash64("term"), F.lit(m)).cast("int")
    (out.repartitionById(n_shards * m, pid)
        .sortWithinPartitions("shard_id", "term", "first_doc")
        .write.mode("overwrite").option("compression", cfg.compression)
        .partitionBy("shard_id").parquet(dst))
    return dst


def rollup_metrics(segments: list[dict], fanout: int) -> list[dict]:
    """Derive a merged level's per-shard metrics from the previous level's.

    The tree merge is a metadata-level concat (shard_id //= fanout, block rows
    unchanged), so n_terms is the only non-additive field — we upper-bound it
    by the sum (exact recount happens once at the final level). Avoids a full
    payload re-scan per level, which would read every posting byte N_levels
    times at 10^12 scale."""
    out: dict[int, dict] = {}
    for s in segments:
        dst = int(s["shard_id"]) // fanout
        acc = out.setdefault(dst, {"shard_id": dst, "n_terms": 0,
                                   "n_blocks": 0, "n_postings": 0,
                                   "payload_bytes": 0})
        for k in ("n_terms", "n_blocks", "n_postings", "payload_bytes"):
            acc[k] += int(s[k])
    return [out[k] for k in sorted(out)]


def merge_to_target(spark: SparkSession, index_dir: str, cfg: IndexConfig,
                    partitions: int, fanout: int, n_iters: int,
                    resume: bool = True) -> list[dict]:
    """Run the full merge tree; returns checkpoint payloads per level.
    Skip-if-done semantics mirror IndexMergeTool.mergeIfNeeded
    (IndexMergeTool.java:68-78)."""
    levels: list[dict] = []
    cur = partitions
    prev_segments = (mf.read_checkpoint(index_dir, "level_0") or {}).get("segments", [])
    for it in range(1, n_iters + 1):
        phase = f"level_{it}"
        ck = mf.read_checkpoint(index_dir, phase) if resume else None
        if ck is None:
            import time
            t0 = time.time()
            # inner levels are rewritten by the next iteration — cheap codec;
            # the final level (served forever) gets the dense one
            codec = (cfg.compression if it == n_iters
                     else cfg.intermediate_compression)
            known = [int(s.get("payload_bytes", -1)) for s in prev_segments]
            lvl_bytes = sum(b for b in known if b > 0) if known else None
            path, cur = merge_level(spark, index_dir, it - 1, fanout, cur,
                                    compression=codec, level_bytes=lvl_bytes)
            segs = (segment_metrics(spark, path) if it == n_iters
                    else rollup_metrics(prev_segments, fanout))
            mf.write_checkpoint(index_dir, phase, {
                "path": path, "n_shards": cur, "fanout": fanout,
                "segments": segs, "wall_s": round(time.time() - t0, 2),
                "lineage": {"from_level": it - 1, "fanout": fanout},
            })
            ck = mf.read_checkpoint(index_dir, phase)
        else:
            cur = ck["n_shards"]
        prev_segments = ck.get("segments", [])
        levels.append(ck | {"level": it})
    return levels


def resolve_duplicate_keys(spark: SparkSession, docmap_path: str,
                           cfg: IndexConfig, out_dir: str) -> tuple[dict | None, int]:
    """Resolve unique-key collisions across combined docmaps into tombstones.

    Reference semantics: every key collision is resolved at reduce time
    before the index serves (SolrReducer.java:80-108, default
    RetainMostRecentUpdateConflictResolver). Our combined indexes
    (merge-indexes inputs, stream generations) can collide across inputs;
    committed posting segments are immutable (exactly like Lucene segments),
    so the losers become TOMBSTONES — a (shard_id, doc_id) parquet the query
    kernel and validator subtract, and `compact` purges physically (the
    Lucene deleted-docs lifecycle).

    Winner per (conv_id, turn_idx): greatest (order_by_field, doc_id) — the
    most recent update, ties to the later-appended input. 'reject' resolvers
    fail loudly instead. Metadata-only: one window over the docmap, never a
    posting read. The losers are written once and counted on that write; an
    empty or rejected result leaves no tombstones directory behind. Returns
    (manifest tombstones entry | None, n)."""
    from pyspark.sql import Window

    from .tombstones import write_tombstones

    dm = spark.read.schema(DOCMAP_SCHEMA).parquet(docmap_path)
    w = Window.partitionBy("conv_id", "turn_idx") \
              .orderBy(F.desc(cfg.order_by_field), F.desc("doc_id"))
    losers = (dm.select("shard_id", "doc_id", "conv_id", "turn_idx",
                        cfg.order_by_field)
                .withColumn("_rn", F.row_number().over(w))
                .where(F.col("_rn") > 1)
                .select("shard_id", "doc_id"))
    path = os.path.join(out_dir, "tombstones")
    n = write_tombstones(losers, path, compression=cfg.compression)
    reject = cfg.conflict_resolver in ("reject", "reject_conflicts")
    if n == 0 or reject:
        fsutil.delete(path, ignore_missing=True)
    if n == 0:
        return None, 0
    if reject:
        raise ValueError(
            f"{n} duplicate keys across combined inputs and resolver is "
            f"'{cfg.conflict_resolver}' — rejecting (reference "
            "RejectingUpdateConflictResolver semantics)")
    return {"path": path, "n": n}, n


def _partition_ids(path: str) -> list[int]:
    """N of every `shard_id=N` child directory — a listing, no job."""
    return [int(n.split("=", 1)[1]) for n in fsutil.listdir(path)
            if n.startswith("shard_id=")]


def concat_segments(spark: SparkSession,
                    inputs: list[tuple[str, str, int, int]],
                    cfg: IndexConfig, avgdl: float, out_dir: str,
                    level_name: str) -> dict:
    """The one metadata-level concat, behind merge_indexes and streaming
    finalize. Each input is a (docmap path, posting-level path, doc-id shift,
    shard offset) tuple. Block doc payloads are base-relative (codec.py
    decode_doc_deltas), so rebasing adds the shift to doc_id / first_doc /
    last_doc and the offset to the posting shard_id, with no decode. The
    docmap shard_id is doc_id >> doc_bits, the micro-shard a batch build
    partitions by. max_tfnorm is re-bounded from the avgdl-independent
    (max_tf, min_dl) under the combined avgdl.

    Exchange rule, from the inputs: each owns its micro-shards, so docmap
    rows are copied out by their scan tasks. Posting rows are repartitioned
    by shard_id only when two inputs share an output shard (stream
    generations), placed by id (shard m in partition m mod |shards|), giving
    one file per served shard; otherwise they are copied out too, one or
    more files per shard, each sorted by (term, first_doc). Writes docmap/, segments/<level_name>/, term_stats/
    and tombstones/ under out_dir."""
    from functools import reduce

    docmap_path = os.path.join(out_dir, "docmap")
    dms = [spark.read.schema(DOCMAP_SCHEMA).parquet(dm)
           .withColumn("doc_id", F.col("doc_id") + F.lit(shift))
           for dm, _, shift, _ in inputs]
    (reduce(DataFrame.unionByName, dms)
     .withColumn("shard_id", F.shiftright("doc_id", cfg.doc_bits).cast("int"))
     .sortWithinPartitions("shard_id", "doc_id")
     .write.mode("overwrite").option("compression", cfg.compression)
     .partitionBy("shard_id").parquet(docmap_path))

    level_path = os.path.join(out_dir, "segments", level_name)
    parts, owned = [], []
    for _, seg, shift, soff in inputs:
        owned.append({sid + soff for sid in _partition_ids(seg)})
        parts.append(spark.read.schema(POSTINGS_SCHEMA).parquet(seg)
                     .withColumn("first_doc", F.col("first_doc") + F.lit(shift))
                     .withColumn("last_doc", F.col("last_doc") + F.lit(shift))
                     .withColumn("shard_id",
                                 (F.col("shard_id") + F.lit(soff)).cast("int")))
    k1, b = float(cfg.k1), float(cfg.b)
    mtf = F.col("max_tf").cast("double")
    bound = (mtf * F.lit(k1 + 1.0)
             / (mtf + F.lit(k1) * (F.lit(1.0 - b)
                                   + F.lit(b) * F.col("min_dl").cast("double")
                                   / F.lit(avgdl))))
    blocks = reduce(DataFrame.unionByName, parts).withColumn("max_tfnorm", bound)
    shards = set().union(*owned)
    if sum(map(len, owned)) > len(shards):
        blocks = blocks.repartitionById(len(shards), "shard_id")
    (blocks.sortWithinPartitions("shard_id", "term", "first_doc")
     .write.mode("overwrite").option("compression", cfg.compression)
     .partitionBy("shard_id").parquet(level_path))

    term_stats_path = os.path.join(out_dir, "term_stats")
    n_terms = write_term_stats(spark, level_path, term_stats_path)
    tombs, n_tombs = resolve_duplicate_keys(spark, docmap_path, cfg, out_dir)
    return {"docmap": docmap_path, "level": level_path,
            "term_stats": term_stats_path, "n_terms": n_terms,
            "tombstones": tombs, "n_tombstones": n_tombs}


def merge_indexes(spark: SparkSession, input_dirs: list[str],
                  out_dir: str) -> dict:
    """Merge INDEPENDENTLY BUILT indexes into one queryable index — the
    engine-side analog of the reference's cross-index merge surface
    (IndexMergeTool.java:48-177 merges arbitrary shard inventories;
    GoLiveTool.java:107-120 issues CoreAdmin MergeIndexes per live core).

    A concat_segments call with one input per index: index i is shifted by
    ``offset_i << doc_bits``, where offset_i = Σ micro-shards of earlier
    inputs, and its final shards by Σ shards of earlier inputs. Both offsets
    give every input a disjoint range of output shards and micro-shards, so
    the concat runs no exchange. Micro-shard widths come from the inputs'
    docmap `shard_id=N` directory names (N is always doc_id >> doc_bits), and
    per-shard segment metrics are carried over from the input manifests —
    blocks are neither split nor joined, so n_terms, n_blocks and n_postings
    are unchanged and only payload_bytes is re-listed.

    Inputs must share analysis/scoring config (token_pattern, k1, b,
    doc_bits) — asserted, since mixing dialects would corrupt scores."""
    import dataclasses
    from itertools import accumulate

    assert len(input_dirs) >= 1
    manifests = [mf.read_manifest(d) for d in input_dirs]
    cfgs = [IndexConfig(**{k: (tuple(v) if k == "stopwords" else v)
                           for k, v in m["config"].items()})
            for m in manifests]
    base = cfgs[0]
    for c in cfgs[1:]:
        if (c.token_pattern, c.k1, c.b, c.doc_bits, c.min_token_len,
                c.stopwords) != (base.token_pattern, base.k1, base.b,
                                 base.doc_bits, base.min_token_len,
                                 base.stopwords):
            raise ValueError("indexes built with different analysis/scoring "
                             "config cannot be merged")
        if c.positions != base.positions:
            # merging positional with non-positional would leave a config
            # that PROMISES phrase support while some shards lack position
            # streams — PHRASE queries would fail shard-side at runtime
            raise ValueError(
                "indexes with mixed positions settings cannot be merged: "
                f"positions={base.positions} vs {c.positions} — rebuild the "
                "non-positional input with positions=True (or both without)")

    fsutil.mkdirs(out_dir)
    n_docs = sum(int(m["stats"]["n_docs"]) for m in manifests)
    total_tokens = sum(int(m["stats"]["total_tokens"]) for m in manifests)
    avgdl = total_tokens / n_docs if n_docs else 0.0  # all-empty inputs →
    # empty merged index rather than ZeroDivisionError

    # micro-shard namespace width per input = highest docmap partition + 1
    # — correct for batch (R micros) AND stream-finalized (gens × S micros)
    # indexes alike; an input without docs has width 0
    micros = [max(ids) + 1 if ids else 0
              for ids in (_partition_ids(os.path.join(d, "docmap"))
                          for d in input_dirs)]
    offsets = [0, *accumulate(micros[:-1])]
    shards = [int(m["shards"]) for m in manifests]
    shard_offsets = [0, *accumulate(shards[:-1])]
    n_shards = sum(shards)

    out = concat_segments(
        spark, [(os.path.join(d, "docmap"), m["levels"][-1]["path"],
                 off << base.doc_bits, soff)
                for d, m, off, soff in zip(input_dirs, manifests, offsets,
                                           shard_offsets)],
        base, avgdl, out_dir, "merged_0")
    n_terms, n_tombs = out["n_terms"], out["n_tombstones"]

    # --- segment metrics carried over, re-tagged; sizes from the listing ---
    sizes = shard_payload_bytes(out["level"])
    segments = []
    for m, soff in zip(manifests, shard_offsets):
        for seg in m["levels"][-1]["segments"]:
            sid = int(seg["shard_id"]) + soff
            segments.append({"shard_id": sid, "n_terms": int(seg["n_terms"]),
                             "n_blocks": int(seg["n_blocks"]),
                             "n_postings": int(seg["n_postings"]),
                             "payload_bytes": sizes.get(sid, -1)})

    merged_cfg = dataclasses.replace(base, shards=n_shards,
                                     reducers=sum(micros))
    stats = {"n_docs": n_docs, "avgdl": avgdl, "total_tokens": total_tokens,
             "n_terms": n_terms, "n_tombstones": n_tombs,
             "n_live_docs": n_docs - n_tombs}
    level = {"level": 0, "path": out["level"], "n_shards": n_shards,
             "segments": segments,
             "lineage": {"merged_from": [os.path.abspath(d)
                                         for d in input_dirs],
                         "micro_offsets": offsets}}
    mf.write_checkpoint(out_dir, "docmap",
                        {"path": out["docmap"], "stats": stats,
                         "partitions": sum(micros)})
    mf.write_checkpoint(out_dir, "term_stats",
                        {"path": out["term_stats"], "n_terms": n_terms})
    mf.write_checkpoint(out_dir, "level_0", level)
    return mf.write_manifest(out_dir, merged_cfg, stats, [level],
                             input_path=f"merge_indexes:{len(input_dirs)}",
                             tombstones=out["tombstones"])


def compact_final(spark: SparkSession, index_dir: str,
                  max_segments: int | None = None) -> dict:
    """forceMerge(maxSegments) analog as a standalone pass: rewrite the final
    level so every (shard, term) posting list uses full-size blocks in at
    most max_segments files per shard, then recommit the manifest pointing at
    the compacted level (TreeMergeOutputFormat.java:170-183). max_segments
    overrides the index config's value when given.

    Tombstoned docs (duplicate-key losers from merge-indexes / stream
    finalize) are PURGED here — postings rewritten without them, the docmap
    filtered to live docs, stats and term_stats recomputed — exactly the
    Lucene merge-applies-deletes lifecycle; the recommitted manifest carries
    no tombstones."""
    import dataclasses

    m = mf.read_manifest(index_dir)
    cfg = IndexConfig(**{k: (tuple(v) if k == "stopwords" else v)
                         for k, v in m["config"].items()})
    if max_segments is not None:
        cfg = dataclasses.replace(cfg, max_segments=int(max_segments))
    final = m["levels"][-1]
    if final.get("compacted"):
        return m
    stats = dict(m["stats"])

    tombs_path = m["tombstones"]["path"] if m.get("tombstones") else None
    if tombs_path:
        # live docmap first: stats for the purged index come from it.
        # Everything here is in-plan (anti-join) or kernel-side (range-pruned
        # parquet reads inside _compact_mapper) — the tombstone set is never
        # materialized on the driver, so compacting two heavily-overlapping
        # merged generations stays O(slice) per task at any collision count.
        docmap_path = os.path.join(index_dir, "docmap")
        live_path = docmap_path + "_live"
        dm = spark.read.schema(DOCMAP_SCHEMA).parquet(docmap_path)
        tdf = spark.read.schema("doc_id long").parquet(m["tombstones"]["path"])
        live = dm.join(tdf, "doc_id", "left_anti")
        (live.repartition(int(final["n_shards"]), "shard_id")
             .write.mode("overwrite").option("compression", cfg.compression)
             .partitionBy("shard_id").parquet(live_path))
        agg = (spark.read.schema(DOCMAP_SCHEMA).parquet(live_path)
               .agg(F.count(F.lit(1)).alias("n"),
                    F.avg("doc_len").alias("avgdl"),
                    F.coalesce(F.sum("doc_len"), F.lit(0)).alias("tt"))
               .collect()[0])
        fsutil.replace_dir(live_path, docmap_path)
        stats = {"n_docs": int(agg["n"]),
                 "avgdl": float(agg["avgdl"] or 0.0),
                 "total_tokens": int(agg["tt"])}

    path = compact_level(spark, final["path"],
                         os.path.join(index_dir, "docmap"), cfg,
                         float(stats["avgdl"]), int(final["n_shards"]),
                         tombstones_path=tombs_path)

    if tombs_path:
        # term_stats from the purged block metadata (same recipe as build)
        term_stats_path = os.path.join(index_dir, "term_stats")
        stats["n_terms"] = write_term_stats(spark, path, term_stats_path)
        fsutil.delete(m["tombstones"]["path"], ignore_missing=True)

    levels = m["levels"][:-1] + [dict(final, path=path, compacted=True,
                                      segments=segment_metrics(spark, path))]
    return mf.write_manifest(index_dir, dataclasses.asdict(cfg), stats,
                             levels, m["input"], tombstones=None)
