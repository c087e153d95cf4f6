"""Engine configuration.

Mirrors the knob surface of the reference tool's argument parser
(reference: MapReduceIndexerToolArgumentParser.java:51-450) reduced to the
parameters that affect index/query semantics. Everything else (memory sizing,
thread pools) is delegated to Spark.
"""

from __future__ import annotations

from dataclasses import dataclass, fields


@dataclass(frozen=True)
class IndexConfig:
    # --- sharding / merge-tree (reference: IndexTool.java:166-213) ---
    shards: int = 2                # S: final shard count (--shards)
    reducers: int = -2             # R: micro-shards; -2 => R = S (no mtree merge),
                                   # mirrors --reducers -2 default semantics
    fanout: int = 2**31 - 1        # merge fanout F, clamped to ceil(R/S)
                                   # (MapReduceIndexerToolArgumentParser.java:262-267)
    max_segments: int = 1          # compaction target per shard after merge
                                   # (--max-segments, default 1)

    # --- posting layout ---
    compression: str = "zstd"      # parquet codec for segments/docmap (the
                                   # reference's zip-output claims ~1/5 size,
                                   # SolrOutputFormat.java:126-133; zstd gives
                                   # a similar ratio with cheap decode)
    intermediate_compression: str = "snappy"
                                   # codec for levels the merge tree rewrites
                                   # anyway (level 0 + inner merge levels +
                                   # stream generations): these bytes are
                                   # written once and read once, so cheap/
                                   # fast beats dense; the FINAL level (what
                                   # queries scan forever) always uses
                                   # `compression`
    block_size: int = 128          # postings per compressed block (Lucene-style)
    posting_codec: str = "for"     # posting value compression: "for" (bit-
                                   # packed frame-of-reference; PForDelta's
                                   # base scheme — 2.5-4x faster decode,
                                   # smaller tf streams) or "varint" (LEB128).
                                   # Payloads are tagged, so mixed indexes read fine.
    positions: bool = False        # store per-posting term positions (one
                                   # extra FOR stream per block) and serve
                                   # "PHRASE" queries — what the reference's
                                   # Lucene 7.7.2 output stores by default
                                   # (pom.xml:36-37). Off by default: ~1
                                   # byte/occurrence extra index size.
    doc_bits: int = 40             # doc_id = (shard_id << doc_bits) | local_idx

    # --- BM25 (Lucene BM25Similarity defaults) ---
    k1: float = 1.2
    b: float = 0.75

    # --- analysis ---
    token_pattern: str = "[a-z0-9]+"   # lowercase + ascii word-break.
                                       # MUST be dialect-portable: the same
                                       # pattern runs under Python re (posting
                                       # kernel), JVM regexp_extract_all
                                       # (docmap doc_len), and DuckDB (oracle).
                                       # validate_index cross-checks posting
                                       # Σtf against docmap doc_len per doc,
                                       # so a dialect divergence fails
                                       # validation rather than silently
                                       # skewing BM25 norms.
    min_token_len: int = 1
    stopwords: tuple[str, ...] = ()    # default: keep everything (Lucene
                                       # StandardAnalyzer w/o stopset)

    # --- dedup (reference §2.5; default RetainMostRecentUpdateConflictResolver) ---
    conflict_resolver: str = "retain_most_recent"
    order_by_field: str = "ts"     # analog of file_last_modified

    def __post_init__(self) -> None:
        if self.shards < 1:
            raise ValueError("shards must be >= 1")
        if self.block_size < 1:
            raise ValueError("block_size must be >= 1")

    @classmethod
    def from_dict(cls, d: dict) -> "IndexConfig":
        """The config a manifest stores (JSON: tuples come back as lists).
        Keys this version does not define are ignored, so a manifest
        written with a since-retired knob still loads."""
        known = {f.name for f in fields(cls)}
        return cls(**{k: (tuple(v) if k == "stopwords" else v)
                      for k, v in d.items() if k in known})

    # Reference invariant: R rounded up to S * F^N so the merge tree is uniform
    # (IndexTool.java:193-210). Returns (R, F, iterations).
    def plan_build_partitions(self) -> tuple[int, int, int]:
        s = self.shards
        r = self.reducers
        if r == -2 or r <= s:
            return s, 1, 0
        f = min(self.fanout, -(-r // s))  # clamp fanout to ceil(R/S), min 2
        f = max(2, f)
        # round R up to S * F^N
        n = 0
        cur = s
        while cur < r:
            cur *= f
            n += 1
        return cur, f, n


DEFAULT_CONFIG = IndexConfig()
