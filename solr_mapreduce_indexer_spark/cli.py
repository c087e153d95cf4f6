"""Command-line tools — the spark-submit surface of the engine.

Parity with the reference's three executable tools:

  build    — MapReduceIndexerTool / IndexTool (full pipeline: dedup → route →
             tokenize → posting segments → mtree merge → manifest commit),
             reference MapReduceIndexerTool.java:36-42, IndexTool.java:76-143.
  merge    — standalone IndexMergeTool (resume/extend the merge tree of an
             existing index dir), reference IndexMergeTool.java:48-177.
  compact  — forceMerge(maxSegments) analog: rewrite the final level so every
             (shard, term) posting list uses full-size blocks, purging
             tombstones; a batch build's last merge level already does this,
             reference TreeMergeOutputFormat.java:170-183.
  query    — top-k BM25 over a built index (the query semantics the
             reference's output serves from Solr).
  validate — read-back index validation (the reference re-opens every index
             after close and fails the task if it is corrupt,
             SolrRecordWriter.java:301-317, TreeMergeOutputFormat.java:205-228).

Run locally:
    python -m solr_mapreduce_indexer_spark build --input tr.parquet \
        --output-dir /tmp/idx --shards 4 --reducers 16

Run on a cluster (north rule: spark-submit --py-files):
    python -m solr_mapreduce_indexer_spark package --out engine.zip
    spark-submit --py-files engine.zip -m solr_mapreduce_indexer_spark ...
    # or: spark-submit --py-files engine.zip cli_build.py ...
"""

from __future__ import annotations

import argparse
import json
import sys

from .config import IndexConfig


def _add_spark_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--master", default=None,
                   help="Spark master (default: local[$SPARK_GRAFT_CPUS]); "
                        "ignored under spark-submit, which sets the master")
    p.add_argument("--shuffle-partitions", type=int, default=None)


def _spark(args, app: str):
    from .session import get_spark
    return get_spark(app=app, master=args.master,
                     shuffle_partitions=args.shuffle_partitions)


def _cfg_from(args) -> IndexConfig:
    return IndexConfig(shards=args.shards, reducers=args.reducers,
                       fanout=args.fanout, max_segments=args.max_segments,
                       conflict_resolver=args.conflict_resolver,
                       order_by_field=args.order_by_field,
                       compression=args.compression,
                       positions=getattr(args, "positions", False))


def cmd_build(args) -> int:
    from .index.build import build_index
    from .sources.transcripts import apply_field_overrides, read_transcripts

    spark = _spark(args, "smis-build")
    df = read_transcripts(spark, args.input)
    if args.set_fields:
        # reference forced header overrides (MorphlineMapRunner.java:84-93)
        overrides = dict(kv.split("=", 1) for kv in args.set_fields)
        df = apply_field_overrides(df, overrides)
    if args.dry_run:
        # reference --dry-run: run the ETL in-process and print documents
        # instead of indexing (MorphlineEnabledIndexerTool.java:186-200).
        from .index.build import prepare_docs
        cfg = _cfg_from(args)
        partitions, _f, _n = cfg.plan_build_partitions()
        prepare_docs(df, cfg, partitions).show(args.dry_run_rows, truncate=80)
        return 0
    manifest = build_index(spark, df, _cfg_from(args), args.output_dir,
                           input_path=args.input, resume=not args.no_resume)
    print(json.dumps({"index_dir": args.output_dir,
                      "stats": manifest["stats"],
                      "final_level": manifest["final_level"],
                      "shards": manifest["shards"]}))
    return 0


def cmd_merge(args) -> int:
    from .index import manifest as mf
    from .index.merge import merge_to_target

    spark = _spark(args, "smis-merge")
    m = mf.read_manifest(args.index_dir)
    cfg = IndexConfig.from_dict(m["config"])
    partitions, fanout, n_iters = cfg.plan_build_partitions()
    if n_iters == 0:
        print(json.dumps({"skipped": True, "reason": "R <= S, nothing to merge"}))
        return 0
    levels = [mf.read_checkpoint(args.index_dir, "level_0") | {"level": 0}]
    levels += merge_to_target(spark, args.index_dir, cfg, partitions, fanout,
                              n_iters, resume=True)
    mf.write_manifest(args.index_dir, cfg, m["stats"], levels, m["input"])
    print(json.dumps({"index_dir": args.index_dir,
                      "levels": [lv["level"] for lv in levels],
                      "final_shards": levels[-1]["n_shards"]}))
    return 0


def cmd_compact(args) -> int:
    from .index import manifest as mf
    from .index.merge import compact_final

    spark = _spark(args, "smis-compact")
    m = compact_final(spark, args.index_dir, max_segments=args.max_segments)
    print(json.dumps({"index_dir": args.index_dir,
                      "final_path": m["levels"][-1]["path"]}))
    return 0


def cmd_merge_indexes(args) -> int:
    from .index.merge import merge_indexes

    spark = _spark(args, "smis-merge-indexes")
    m = merge_indexes(spark, args.inputs, args.output_dir)
    print(json.dumps({"index_dir": args.output_dir,
                      "shards": m["shards"],
                      "n_docs": m["stats"]["n_docs"]}))
    return 0


def cmd_publish(args) -> int:
    from .index.manifest import publish_index

    if args.validate:
        from .index.validate import validate_index
        spark = _spark(args, "smis-publish")
        report = validate_index(spark, args.index_dir)
        if not report["ok"]:
            print(json.dumps({"published": False, "validation": report}))
            return 1
    out = publish_index(args.index_dir, args.serving_dir)
    print(json.dumps({"published": True} | out))
    return 0


def cmd_dedup(args) -> int:
    """Training-data dedup family over a parquet table, with the scale caps
    (--max-bucket-size / --max-shingle-df) surfaced as knobs and every
    capped drop reported in the output JSON (never silent)."""
    from .operators import dedupe_ops as ops

    spark = _spark(args, "smis-dedup")
    df = spark.read.parquet(args.input)
    metrics: dict = {}
    mbs = args.max_bucket_size if args.max_bucket_size > 0 else None
    msd = args.max_shingle_df if args.max_shingle_df > 0 else None
    if args.method == "exact":
        out = ops.exact_dedup(df, text_col=args.text_col, id_col=args.id_col)
    elif args.method == "minhash":
        out = ops.minhash_lsh_pairs(
            df, text_col=args.text_col, id_col=args.id_col,
            jaccard_threshold=args.threshold, max_bucket_size=mbs,
            metrics=metrics)
    elif args.method == "simhash":
        out = ops.simhash_near_pairs(
            df, text_col=args.text_col, id_col=args.id_col,
            max_hamming=args.max_hamming, max_bucket_size=mbs,
            metrics=metrics)
    elif args.method == "ngram":
        out = ops.ngram_jaccard_pairs(
            df, text_col=args.text_col, id_col=args.id_col,
            threshold=args.threshold, max_shingle_df=msd, metrics=metrics)
    else:  # embedding
        out = ops.embedding_near_pairs(
            df, vec_col=args.vec_col, id_col=args.id_col,
            threshold=args.threshold, max_bucket_size=mbs, metrics=metrics)
    out.write.mode("overwrite").parquet(args.output)
    caps = ops.collect_cap_metrics(metrics) if metrics else {}
    print(json.dumps({"output": args.output,
                      "n_pairs": spark.read.parquet(args.output).count(),
                      "cap_metrics": caps}))
    return 0


def cmd_query(args) -> int:
    from .query.bm25 import bm25_topk, load_index

    spark = _spark(args, "smis-query")
    h = load_index(args.index_dir)
    rows = bm25_topk(spark, h, args.terms, k=args.k, mode=args.mode).collect()
    for r in rows:
        print(json.dumps({"rank": r["rank"], "doc_id": r["doc_id"],
                          "conv_id": r["conv_id"], "turn_idx": r["turn_idx"],
                          "score": round(r["score"], 6)}))
    return 0


def cmd_validate(args) -> int:
    from .index.validate import validate_index

    spark = _spark(args, "smis-validate")
    report = validate_index(spark, args.index_dir)
    print(json.dumps(report))
    return 0 if report["ok"] else 1


def cmd_package(args) -> int:
    import shutil

    from .session import _package_zip
    shutil.copyfile(_package_zip(), args.out)
    print(json.dumps({"py_files": args.out}))
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="solr_mapreduce_indexer_spark",
        description="PySpark-native inverted-index build + BM25 query engine")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="full index build pipeline")
    b.add_argument("--input", required=True,
                   help="transcripts table: parquet path or iceberg:<table>")
    b.add_argument("--output-dir", required=True)
    b.add_argument("--shards", type=int, default=2)
    b.add_argument("--reducers", type=int, default=-2,
                   help="micro-shards R (-2: R=S, no merge tree)")
    b.add_argument("--fanout", type=int, default=2**31 - 1)
    b.add_argument("--max-segments", type=int, default=1)
    b.add_argument("--conflict-resolver", default="retain_most_recent",
                   choices=["retain_most_recent", "sort_updates", "reject",
                            "reject_conflicts", "no_change"])
    b.add_argument("--order-by-field", default="ts")
    b.add_argument("--compression", default="zstd",
                   help="parquet codec for segments/docmap (zstd/snappy/none)")
    b.add_argument("--set", action="append", default=[], dest="set_fields",
                   metavar="FIELD=VALUE",
                   help="force a literal field value on every document "
                        "(repeatable; reference forced header overrides)")
    b.add_argument("--positions", action="store_true",
                   help="store term positions (enables PHRASE queries; "
                        "~1 byte per occurrence extra)")
    b.add_argument("--no-resume", action="store_true",
                   help="ignore existing checkpoints; rebuild from scratch")
    b.add_argument("--dry-run", action="store_true")
    b.add_argument("--dry-run-rows", type=int, default=20)
    _add_spark_args(b)
    b.set_defaults(fn=cmd_build)

    m = sub.add_parser("merge", help="resume/extend the mtree merge of an index")
    m.add_argument("--index-dir", required=True)
    _add_spark_args(m)
    m.set_defaults(fn=cmd_merge)

    c = sub.add_parser("compact", help="forceMerge analog: defragment blocks")
    c.add_argument("--index-dir", required=True)
    c.add_argument("--max-segments", type=int, default=None,
                   help="target files per shard (default: the index config's "
                        "max_segments, itself defaulting to 1)")
    _add_spark_args(c)
    c.set_defaults(fn=cmd_compact)

    mi = sub.add_parser("merge-indexes",
                        help="merge independently built indexes into one "
                             "(doc-id rebase is metadata-only; no posting "
                             "rewrite — the cross-index IndexMergeTool/"
                             "GoLive-merge analog)")
    mi.add_argument("--inputs", nargs="+", required=True)
    mi.add_argument("--output-dir", required=True)
    _add_spark_args(mi)
    mi.set_defaults(fn=cmd_merge_indexes)

    g = sub.add_parser("publish", help="go-live analog: atomic snapshot swap "
                                       "into a serving directory")
    g.add_argument("--index-dir", required=True)
    g.add_argument("--serving-dir", required=True)
    g.add_argument("--validate", action="store_true",
                   help="run read-back validation before publishing")
    _add_spark_args(g)
    g.set_defaults(fn=cmd_publish)

    d = sub.add_parser("dedup", help="exact/near-dup detection over a parquet "
                                     "table (pairs written as parquet; capped "
                                     "drops reported, never silent)")
    d.add_argument("--input", required=True)
    d.add_argument("--output", required=True)
    d.add_argument("--method", default="minhash",
                   choices=["exact", "minhash", "simhash", "ngram",
                            "embedding"])
    d.add_argument("--text-col", default="text")
    d.add_argument("--id-col", default="doc_id")
    d.add_argument("--vec-col", default="embedding")
    d.add_argument("--threshold", type=float, default=0.8)
    d.add_argument("--max-hamming", type=int, default=3)
    d.add_argument("--max-bucket-size", type=int, default=5000,
                   help="drop LSH buckets larger than this (0 = uncapped); "
                        "drops are counted and reported")
    d.add_argument("--max-shingle-df", type=int, default=100_000,
                   help="ngram method: exclude shingles in more docs than "
                        "this (0 = uncapped)")
    _add_spark_args(d)
    d.set_defaults(fn=cmd_dedup)

    q = sub.add_parser("query", help="top-k BM25 over a built index")
    q.add_argument("--index-dir", required=True)
    q.add_argument("--terms", nargs="+", required=True)
    q.add_argument("--mode", default="AND", choices=["AND", "OR", "PHRASE"],
                   help="PHRASE = exact consecutive-position match; needs "
                        "an index built with positions enabled")
    q.add_argument("-k", type=int, default=10)
    _add_spark_args(q)
    q.set_defaults(fn=cmd_query)

    v = sub.add_parser("validate", help="read-back index integrity check")
    v.add_argument("--index-dir", required=True)
    _add_spark_args(v)
    v.set_defaults(fn=cmd_validate)

    z = sub.add_parser("package", help="emit the --py-files zip for spark-submit")
    z.add_argument("--out", default="solr_mapreduce_indexer_spark.zip")
    z.set_defaults(fn=cmd_package)

    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
