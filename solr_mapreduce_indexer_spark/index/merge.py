"""mtree merge: fanout-F tree reduction of micro-shard segments.

Spark restatement of the reference's mapper-only merge jobs
(IndexMergeTool.java:104-171, iteration count `:96-101`): each iteration maps
micro-shard F-groups to one merged shard. Because our doc ids embed the
micro-shard in the high bits and micro-shards of a root shard are contiguous
(micro = root*(R/S) + offset, SolrCloudPartitioner.java:133-136), an inner
merge level is a *metadata-level concat* exactly like Lucene
IndexWriter.addIndexes (TreeMergeOutputFormat.java:141-158): posting blocks
from sibling micro-shards have disjoint, ordered doc-id ranges, so the
merged posting list is just the union of block rows — no decode, no
rewrite, no shuffle beyond the re-tag.

concat_segments is the one concat of independently written segments:
merge_indexes (the cross-index MergeIndexes analog, GoLiveTool.java:107-120)
and streaming finalize both call it. Each input's doc ids are shifted into a
range of micro-shards it owns, so docmap rows are copied out with no
exchange; posting rows are exchanged by shard_id only when two inputs share
an output shard (stream generations), else copied out as well (merge_indexes
gives every input its own output shards).

The last tree-merge level and compaction (the forceMerge(maxSegments)
analog, TreeMergeOutputFormat.java:170-183) share one kernel that re-cuts
each (shard, term) posting list into full-size blocks, decoding and
encoding many blocks per call (compact_level).
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
from .build import (DOCMAP_SCHEMA, POSTINGS_COLS, POSTINGS_SCHEMA,
                    segment_metrics, shard_payload_bytes, write_term_stats)


def level_path(index_dir: str, level: int) -> str:
    return os.path.join(index_dir, "segments", f"level_{level}")


def merge_level(spark: SparkSession, index_dir: str, level: int,
                fanout: int, n_shards_in: int, cfg: IndexConfig,
                avgdl: float | None = None,
                level_bytes: int | None = None) -> tuple[str, int]:
    """One tree-merge iteration: level → level+1, shard_id //= fanout.

    An inner level (avgdl None) concatenates block rows. The final level
    (avgdl given: the build's) re-blocks every (shard, term) posting list
    into full block_size blocks with compact_level, in at most
    cfg.max_segments term-sorted files per shard: what the reference serves
    after its forceMerge (TreeMergeOutputFormat.java:170-183)."""
    src = (spark.read.schema(POSTINGS_SCHEMA).parquet(level_path(index_dir, level))
           .withColumn("shard_id", (F.col("shard_id") / fanout).cast("int")))
    n_out = -(-n_shards_in // fanout)
    dst_path = level_path(index_dir, level + 1)
    if avgdl is not None:
        compact_level(src, dst_path, os.path.join(index_dir, "docmap"), cfg,
                      avgdl, n_out)
        return dst_path, n_out
    # Sub-split each output shard by term so write parallelism isn't capped
    # at the (shrinking) shard count: a shard dir holds several term-hashed
    # files, each sorted by (term, first_doc) — a term's blocks stay within
    # one file.
    n_tasks = max(n_out, 2 * spark.sparkContext.defaultParallelism)
    if level_bytes and level_bytes > 0:
        # Scale-adaptive task count: ~8 MB of source payload per merge task
        # amortizes task scheduling + writer-open overhead and keeps output
        # files from fragmenting (guide: derive partitioning from input size,
        # don't pin it to the local core count). Large levels still clamp UP
        # to 2x parallelism; tiny levels collapse to n_out tasks.
        n_tasks = max(n_out, min(n_tasks, -(-level_bytes // (8 << 20))))
    # shard_id leads the sort, or the partitioned writer re-sorts by it and
    # the optimizer drops the term order
    (src.repartition(n_tasks, "shard_id", "term")
        .sortWithinPartitions("shard_id", "term", "first_doc")
        .write.mode("overwrite")
        .option("compression", cfg.intermediate_compression)
        .partitionBy("shard_id").parquet(dst_path))
    return dst_path, n_out


# Postings per decode/encode call of the re-block kernel: bounds its scratch
# memory whatever a shard's size (tune_allocator keeps worker heap resident,
# and the same workers serve queries). At 2^14 a call's tracemalloc peak
# stayed below the level-0 kernel's per-micro-shard peak on the same index.
REBLOCK_BUDGET = 1 << 14


def _reblock_mapper(cfg: IndexConfig, avgdl: float, docmap_path: str,
                    tombstones_path: str | None = None):
    """mapInPandas kernel: block rows sorted by (shard_id, term, first_doc)
    → the same posting lists re-cut into full block_size blocks, in the same
    order. Payloads are decoded and encoded in bulk, about REBLOCK_BUDGET
    postings per call: calls cut at (shard, term) run boundaries; a longer run is cut
    between block rows, and the decoded tail past its last full block is
    carried into the next call (across Arrow batches too), so every list's
    blocks start at multiples of block_size from its first posting whatever
    the cuts. Doc lengths come from the docmap (load_doc_lens) for the
    decoded docs; min_dl and max_tfnorm are recomputed under `avgdl`.
    Tombstoned docs are purged, each call reading only its own doc-id slice
    of the tombstones (the Lucene merge-applies-deletes lifecycle)."""
    bs = cfg.block_size

    def encode(d, t, run, keys, pos):
        from .codec import encode_blocks, encode_positions
        from .fastbuild import (_assemble_payload_bytes, _assemble_pos_bytes,
                                encode_blocks_bulk)
        from .tombstones import doc_lens_of, load_doc_lens
        ln = doc_lens_of(*load_doc_lens(docmap_path, d, d, cfg.doc_bits), d)
        ct = np.concatenate(([0], np.cumsum(t)))  # first token per posting
        if cfg.posting_codec != "for":  # per-term codec.encode_blocks
            rows = []
            runs = np.flatnonzero(np.diff(run, prepend=-1, append=-1))
            for s, e in zip(runs[:-1], runs[1:]):
                blocks = encode_blocks(d[s:e], t[s:e], ln[s:e], avgdl, bs,
                                       cfg.k1, cfg.b, cfg.posting_codec)
                for lo, b in zip(range(s, e, bs), blocks):
                    pb = (b"" if pos is None else encode_positions(
                        pos[ct[lo]:ct[lo + b["n"]]], t[lo:lo + b["n"]]))
                    rows.append((*keys[run[s]], *(b[c] for c in
                                 POSTINGS_COLS[2:-1]), pb))
            return pd.DataFrame(rows, columns=POSTINGS_COLS)
        blk = encode_blocks_bulk(d, t, ln, run, avgdl, bs, cfg.k1, cfg.b,
                                 pos_sorted=pos,
                                 pstarts=ct[:-1] if pos is not None else None)
        nb, codes = blk["n_blocks"], blk["term_code"]
        return pd.DataFrame({
            "shard_id": np.fromiter((keys[c][0] for c in codes), np.int32, nb),
            "term": np.array([keys[c][1] for c in codes], dtype=object),
            "first_doc": blk["first_doc"], "last_doc": blk["last_doc"],
            "n": blk["n"], "max_tf": blk["max_tf"], "sum_tf": blk["sum_tf"],
            "min_dl": blk["min_dl"], "max_tfnorm": blk["max_tfnorm"],
            "doc_bytes": _assemble_payload_bytes(*blk["payloads"][0],
                                                 blk["block_lens"]),
            "tf_bytes": _assemble_payload_bytes(*blk["payloads"][1],
                                                blk["block_lens"]),
            "pos_bytes": (_assemble_pos_bytes(*blk["pos_payload"])
                          if pos is not None else [b""] * nb),
        }, columns=POSTINGS_COLS)

    def reblock_call(rows: pd.DataFrame, carry, closed: bool):
        """Decode `rows`, prepend the carried tail, encode; returns (block
        rows, the decoded tail of the last run when it is not `closed`)."""
        from .fastbuild import decode_payloads_bulk
        from .tombstones import load_tombstones_range
        sh = rows["shard_id"].to_numpy(np.int64)
        tm = rows["term"].to_numpy(object)
        new = np.ones(len(rows), dtype=bool)
        new[1:] = (sh[1:] != sh[:-1]) | (tm[1:] != tm[:-1])
        keys = [(int(a), b) for a, b in zip(sh[new], tm[new])]
        deltas, n = decode_payloads_bulk(rows["doc_bytes"])
        t = decode_payloads_bulk(rows["tf_bytes"])[0].astype(np.int64)
        first = np.cumsum(n) - n
        deltas = deltas.astype(np.int64)
        deltas[first] = 0
        cs = np.cumsum(deltas)
        d = (cs - np.repeat(cs[first], n)
             + np.repeat(rows["first_doc"].to_numpy(np.int64), n))
        run = np.repeat(np.cumsum(new) - 1, n)
        pos = None
        pcol = [p or b"" for p in rows["pos_bytes"]]
        if any(pcol):
            pv = decode_payloads_bulk(pcol)[0].astype(np.int64)
            ps = np.cumsum(t) - t
            pc = np.cumsum(pv)
            pos = pc - np.repeat(pc[ps] - pv[ps], t)  # absolute per posting
        if tombstones_path is not None and len(d):
            dead = load_tombstones_range(tombstones_path, int(d.min()),
                                         int(d.max()), cfg.doc_bits)
            if len(dead):
                ix = np.minimum(np.searchsorted(dead, d), len(dead) - 1)
                keep = dead[ix] != d
                if pos is not None:
                    pos = pos[np.repeat(keep, t)]
                d, t, run = d[keep], t[keep], run[keep]
        if carry is not None:
            ck, cd, ct, cp = carry
            if not keys or ck != keys[0]:
                keys.insert(0, ck)
                run = run + 1
            d, t = np.concatenate((cd, d)), np.concatenate((ct, t))
            run = np.concatenate((np.zeros(len(cd), np.int64), run))
            if cp is not None:
                pos = cp if pos is None else np.concatenate((cp, pos))
        carry = None
        if not closed and len(d):
            # the last run continues: keep its tail past the last full block
            last = np.flatnonzero(run == run[-1])[0]
            cut = len(d) - (len(d) - last) % bs
            if cut < len(d):
                tc = int(t[:cut].sum())
                carry = (keys[run[-1]], d[cut:], t[cut:],
                         pos[tc:] if pos is not None else None)
                if pos is not None:
                    pos = pos[:tc]
                d, t, run = d[:cut], t[:cut], run[:cut]
        return (encode(d, t, run, keys, pos) if len(d) else None), carry

    def reblock(batches):
        from .codec import tune_allocator
        tune_allocator()
        budget, rows, carry = REBLOCK_BUDGET, None, None
        for pdf in batches:
            rows = pdf if rows is None else pd.concat([rows, pdf],
                                                      ignore_index=True)
            while int(rows["n"].sum()) >= budget:
                n = rows["n"].to_numpy(np.int64)
                before = np.cumsum(n) - n
                sh, tm = rows["shard_id"].to_numpy(), rows["term"].to_numpy()
                starts = np.flatnonzero((sh[1:] != sh[:-1])
                                        | (tm[1:] != tm[:-1])) + 1
                fit = starts[before[starts] <= budget]
                # cut at the last run start that fits, else inside the
                # first run once it holds the budget
                cut = (int(fit[-1]) if len(fit)
                       else int(np.searchsorted(before + n, budget)) + 1)
                out, carry = reblock_call(rows.iloc[:cut], carry,
                                          closed=bool(len(fit)))
                rows = rows.iloc[cut:]
                if out is not None:
                    yield out
        if rows is not None:
            out = reblock_call(rows, carry, closed=True)[0]
            if out is not None:
                yield out

    return reblock


def compact_level(src: DataFrame, dst: str, docmap_path: str,
                  cfg: IndexConfig, avgdl: float, n_shards: int,
                  tombstones_path: str | None = None) -> str:
    """forceMerge(maxSegments) analog: write the block rows of `src` to
    `dst` so every (shard, term) posting list uses full blocks, in at most
    cfg.max_segments files per shard directory (reference --max-segments,
    default 1, MapReduceIndexerToolArgumentParser.java:269-283;
    BatchWriter.java:205-208). The build's final merge level and
    compact_final both write through it.

    Rows are placed by id, (shard, salt) → partition shard·m + salt with
    m = max_segments and salt = pmod(xxhash64(term), m), so a term's blocks
    stay in one task, no two shards share a task, and a shard is written by
    up to m tasks. Each task sorts by (shard_id, term, first_doc), runs the
    re-block kernel (_reblock_mapper) and writes one file sorted by
    (term, first_doc)."""
    from ..session import ensure_shipped
    ensure_shipped(src.sparkSession)  # the kernel's workers import us
    m = max(1, int(cfg.max_segments))
    pid = F.col("shard_id")
    if m > 1:
        pid = pid * m + F.pmod(F.xxhash64("term"), F.lit(m)).cast("int")
    order = ("shard_id", "term", "first_doc")
    (src.repartitionById(n_shards * m, pid)
        .sortWithinPartitions(*order)
        .mapInPandas(_reblock_mapper(cfg, avgdl, docmap_path,
                                     tombstones_path),
                     schema=POSTINGS_SCHEMA)
        # the kernel keeps the order, but the writer cannot know it
        .sortWithinPartitions(*order)
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
    avgdl = float(mf.read_checkpoint(index_dir, "docmap")["stats"]["avgdl"])
    prev_segments = (mf.read_checkpoint(index_dir, "level_0") or {}).get("segments", [])
    for it in range(1, n_iters + 1):
        phase = f"level_{it}"
        ck = mf.read_checkpoint(index_dir, phase) if resume else None
        if ck is None:
            import time
            t0 = time.time()
            known = [int(s.get("payload_bytes", -1)) for s in prev_segments]
            lvl_bytes = sum(b for b in known if b > 0) if known else None
            path, cur = merge_level(
                spark, index_dir, it - 1, fanout, cur, cfg,
                avgdl=avgdl if it == n_iters else None, level_bytes=lvl_bytes)
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
    cfgs = [IndexConfig.from_dict(m["config"]) for m in manifests]
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
    cfg = IndexConfig.from_dict(m["config"])
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
        # parquet reads inside _reblock_mapper) — the tombstone set is never
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

    path = compact_level(spark.read.schema(POSTINGS_SCHEMA).parquet(final["path"]),
                         final["path"].rstrip("/") + "_compact",
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
