"""Benchmark entry point: one workload, one seed, one run.

    python3 perfbench/run.py --workload {search,update} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The engine is imported from that checkout
and everything the run writes goes under `.perfbench_work/` there (deleted
at the end) or, for traced runs, `.perfbench_out/` (the span file).

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones. Everything else, including
the human-readable per-layer table, goes to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

import host
import tracing as T

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "throughput_per_s": "1/s",
    "index_bytes_per_input_byte": "B/B",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "index.build.docmap_s": "s",
    "index.build.level0_s": "s",
    "index.build.segment_metrics_s": "s",
    "index.build.term_stats_s": "s",
    "index.fastbuild.shard_s": "s",
    "index.fastbuild.tokenize_s": "s",
    "index.fastbuild.factorize_s": "s",
    "index.fastbuild.encode_s": "s",
    "index.fastbuild.assemble_s": "s",
    "index.fastbuild.tokens_per_s": "1/s",
    "index.merge.level_s": "s",
    "index.merge.merge_indexes_s": "s",
    "index.merge.resolve_dupes_s": "s",
    "index.manifest.commit_s": "s",
    "index.tombstones.load_s": "s",
    "query.bm25.load_index_s": "s",
    "query.bm25.df_lookup_s": "s",
    "query.bm25.candidates_s": "s",
    "query.bm25.candidates_share": "ratio",
    "query.bm25.kernel_share": "ratio",
    "query.bm25.driver_s": "s",
    "query.bm25.fetch_s": "s",
    "query.bm25.score_s": "s",
    "query.bm25.blocks_fetched": "count",
    "query.bm25.blocks_decoded": "count",
    "query.bm25.decode_ratio": "ratio",
    "query.bm25.pos_blocks_fetched": "count",
    "query.bm25.pos_blocks_decoded": "count",
    "session.jobs_per_op": "count",
    "session.tasks_per_op": "count",
    "session.core_busy_ratio": "ratio",
    "session.gc_s": "s",
    "session.shuffle_write_bytes_per_op": "B",
    "host.cpu_probe_s": "s",
    "host.cpu_probe_mt_s": "s",
    "host.steal_share": "ratio",
    "trace.overhead_ratio": "ratio",
}

HEAP = "2g"
# Two task threads, not one per core: each task keeps a JVM writer thread,
# a reader thread and a Python worker busy, and the driver, the collector
# and the RSS sampler run beside them. At local[4] on a 4-core host that
# oversubscription turned every stall of a core into a stall of an op; with
# two cores left free the spread of op_p50_s over five seeds fell from about
# 0.19 to 0.12 (see perfbench/README.md, "Steadiness settings").
MAX_CORES = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["search", "update"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--scale", choices=["full", "tiny"], default="full",
                   help="tiny: the self-test's corpus")
    p.add_argument("--plant-wrong-row", action="store_true",
                   help="corrupt one op's result (self-test of the checks)")
    return p.parse_args(argv)


def prepare_env(work: str, trace: bool) -> None:
    """Confine every file Spark, the JVM and Python write to `work`."""
    tmp = os.path.join(work, "tmp")
    conf = os.path.join(work, "conf")
    for d in (tmp, conf, os.path.join(work, "local"),
              os.path.join(work, "events")):
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_CONF_DIR"] = conf
    defaults = {
        # C1 only: with C2 the update op kept getting faster for 5+ ops as
        # Spark's planner and scheduler were recompiled (a ~30% drift within
        # a run on a 4-core host); with C1 op times are flat after one
        # warm-up op. The benchmark compares commits; it does not give
        # production JVM numbers. AlwaysPreTouch: with -Xms = -Xmx the heap
        # is committed at start but resident only once touched, and how
        # much of it a run had touched varied (update peak_rss_mb fell into
        # two groups ~320 MB apart at local[2]); touching it all at start
        # makes the JVM's share of peak_rss_mb the same in every run.
        # -UsePerfData: the JVM would otherwise write an hsperfdata file
        # under /tmp.
        "spark.driver.defaultJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 "
            "-XX:+AlwaysPreTouch -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
        "spark.eventLog.compress": "false",
    }
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as f:
        f.writelines(f"{k} {v}\n" for k, v in defaults.items())
    with open(os.path.join(conf, "log4j2.properties"), "w") as f:
        f.write("rootLogger.level = error\n"
                "rootLogger.appenderRef.stderr.ref = console\n"
                "appender.console.type = Console\n"
                "appender.console.name = console\n"
                "appender.console.target = SYSTEM_ERR\n"
                "appender.console.layout.type = PatternLayout\n"
                "appender.console.layout.pattern = %p %c{1}: %m%n%ex\n")


def run(args, work: str) -> dict:
    import workloads as W  # imports the engine: after main() checked for it
    from pyspark import SparkContext
    from solr_mapreduce_indexer_spark.session import get_spark

    scale = W.SCALES[args.scale]
    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    t_setup = time.perf_counter()
    spark = get_spark(app=f"perfbench-{args.workload}",
                      master=f"local[{cores}]", shuffle_partitions=cores,
                      driver_memory=HEAP)
    session_s = time.perf_counter() - t_setup
    jvm_pid = SparkContext._gateway.proc.pid
    stopped = False
    try:
        tracer = T.Tracer() if args.trace else None
        capture = T.install_engine_spans(tracer) if tracer else None
        ctx = W.Context(spark=spark, seed=args.seed, scale=scale,
                        work=os.path.join(work, "data"), tracer=tracer,
                        plant_wrong_row=args.plant_wrong_row)
        wl = W.WORKLOADS[args.workload](ctx)
        wl.setup()
        warm = []
        for i in range(-scale.warmup_ops[args.workload], 0):
            inp = wl.prepare(i)
            t0 = time.perf_counter()
            out = wl.op(i, inp)
            warm.append(time.perf_counter() - t0)
            wl.after(i, inp, out)
        # set-up = session start + corpus and set-up index (one-off) + the
        # warm-up ops, counted as their median times their number
        setup_s = (session_s + sum(wl.setup_parts.values())
                   + (len(warm) * statistics.median(warm) if warm else 0.0))
        log(f"setup: session {session_s:.2f}s, "
            + ", ".join(f"{k} {v:.2f}s" for k, v in wl.setup_parts.items())
            + ", warm-up ops " + ", ".join(f"{w:.2f}s" for w in warm))

        probe0 = host.cpu_probe()
        mt0 = host.cpu_probe_parallel(cores)
        acct = T.SparkAccounting(spark) if tracer else None
        lat: list[float] = []
        traced_ops: list[int] = []
        units = 0
        op_wall: dict[str, float] = {}
        op_gc: dict[str, int] = {}
        replay = None
        hard_cap = max(3 * args.seconds, args.seconds + 60)
        min_ops = scale.min_ops[args.workload]
        i = 0
        ticks0 = host.cpu_counters()
        with host.RssSampler(jvm_pid) as rss:
            t_begin = time.perf_counter()
            while True:
                elapsed = time.perf_counter() - t_begin
                if elapsed >= hard_cap or (elapsed >= args.seconds
                                           and i >= min_ops):
                    break
                inp = wl.prepare(i)
                # in a traced run odd ops are traced and even ops are not,
                # so the run measures its own tracing overhead
                traced = tracer is not None and i % 2 == 1
                name = f"op{i}"
                if tracer is not None:
                    tracer.unwrap_all()
                    if traced:
                        capture = T.install_engine_spans(tracer)
                        acct.begin(name)
                        gc0 = acct.gc_ms()
                    tracer.op = name if traced else "untraced"
                rss.active.set()
                t0 = time.perf_counter()
                try:
                    out = wl.op(i, inp)
                except Exception as e:  # noqa: BLE001 — counted as failed
                    traceback.print_exc(file=sys.stderr)
                    wl.fail(i, f"{type(e).__name__}: {e}")
                    out = None
                dt = time.perf_counter() - t0
                rss.active.clear()
                if traced:
                    tracer.op = "between"
                    acct.end(name)
                    op_gc[name] = acct.gc_ms() - gc0
                    op_wall[name] = dt
                    traced_ops.append(i)
                    if replay is None and out is not None \
                            and capture.get("args"):
                        replay = _replay_query(capture, wl)
                lat.append(dt)
                units += wl.units(inp)
                if out is not None:
                    wl.after(i, inp, out)
                i += 1
            peak_rss = rss.peak_mb()
        steal = host.steal_share(ticks0, host.cpu_counters())
        probe1 = host.cpu_probe()
        mt1 = host.cpu_probe_parallel(cores)
        t0 = time.perf_counter()
        wl.check()
        log(f"{len(lat)} ops, op latencies "
            + ", ".join(f"{x:.3f}" for x in lat)
            + f"; checks {time.perf_counter() - t0:.1f}s")
        log(f"host: cpu probe {probe0:.4f}s before, {probe1:.4f}s after; "
            f"{cores}-thread probe {mt0:.4f}s before, {mt1:.4f}s after; "
            f"steal {steal:.3f} of CPU time during the ops")
        for n in wl.notes:
            log(f"FAILED {n}")
        result = {"correct": not wl.failed, "attempted": len(lat),
                  "failed": len(wl.failed)}
        if tracer is None:
            values = {
                "setup_s": setup_s,
                "op_p50_s": statistics.median(lat),
                "throughput_per_s": units / len(lat) / statistics.median(lat),
                "index_bytes_per_input_byte":
                    statistics.median(wl.index_ratio),
                "peak_rss_mb": peak_rss,
            }
            result["metrics"] = {k: {"value": values[k], "unit": u}
                                 for k, u in END_TO_END.items()}
            log(f"op_p50_s is the median of {len(lat)} ops; "
                f"{units / len(lat):.0f} {wl.unit_name} per op")
            return result

        tracer.unwrap_all()
        fb = _replay_fastbuild(wl, scale)
        # the event log is complete only once the session has stopped
        host.stop_spark(spark)
        stopped = True
    finally:
        if not stopped:
            host.stop_spark(spark)

    values = _layer_values(tracer, acct, work, op_wall, op_gc, cores,
                           traced_ops, lat, replay, fb, (probe0, probe1),
                           (mt0, mt1), steal)
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    spans = os.path.join(ROOT, ".perfbench_out",
                         f"spans_{args.workload}_seed{args.seed}.json")
    tracer.write(spans)
    result["metrics"] = {k: {"value": values[k], "unit": u}
                         for k, u in PER_LAYER.items()}
    _print_table(values, len(traced_ops), spans)
    return result


def _replay_query(capture, wl) -> dict:
    """Replay the first traced op's batch shard by shard in-process (three
    times; times are medians, counts are those of one replay)."""
    h = wl.last_handle
    reps = [T.replay_query(capture["args"], h.shard_ids) for _ in range(3)]
    out = {k: statistics.median(r[k] for r in reps) for k in reps[0]}
    out["n_shards"] = len(h.shard_ids)
    return out


def _replay_fastbuild(wl, scale) -> dict:
    """Replay the level-0 kernel on micro-shard 0 of the workload's corpus."""
    import re

    import numpy as np

    from solr_mapreduce_indexer_spark.index import build

    cfg = wl.cfg
    parts = cfg.plan_build_partitions()[0]
    shard = (build.prepare_docs(wl.tr, cfg, parts)
             .where("shard_id = 0").select("doc_id", "text")
             .toPandas().sort_values("doc_id"))
    texts = shard["text"].to_numpy()
    pat = re.compile(cfg.token_pattern)
    avgdl = float(np.mean([len(pat.findall(t.lower())) for t in texts]))
    return T.replay_fastbuild(shard["doc_id"].to_numpy(), texts, cfg, avgdl,
                              scale.replays)


def _layer_values(tracer, acct, work, op_wall, op_gc, cores, traced_ops, lat,
                  replay, fb, probes, mt_probes, steal) -> dict:
    per_op = []
    sess = T.session_layers(acct, os.path.join(work, "events"), op_wall,
                            op_gc, cores)
    for i in traced_ops:
        name = f"op{i}"
        q = T.query_layers(tracer, name)
        q["query.bm25.candidates_share"] = (q["query.bm25.candidates_s"]
                                            / op_wall[name])
        per_op.append(T.build_layers(tracer, name) | q | sess.get(name, {}))
    # a layer the ops never call but set-up builds do (search builds its
    # index in set-up) is reported per set-up build
    n_builds = max(1, len(tracer.of("setup", "index.build.build_index")))
    setup = {k: v / n_builds
             for k, v in T.build_layers(tracer, "setup").items()}
    values = {}
    for k in per_op[0]:
        v = statistics.median(r[k] for r in per_op)
        values[k] = v if v or k not in setup else setup[k]
    values.update(fb)
    n = replay["n_shards"] if replay else 1
    r = replay or {}
    values["query.bm25.fetch_s"] = r.get("fetch", 0.0) / n
    values["query.bm25.score_s"] = r.get("score", 0.0) / n
    values["index.tombstones.load_s"] = r.get("tomb", 0.0) / n
    for k in ("blocks_fetched", "blocks_decoded", "pos_blocks_fetched",
              "pos_blocks_decoded"):
        values[f"query.bm25.{k}"] = r.get(k, 0) / n
    fetched = r.get("blocks_fetched", 0)
    values["query.bm25.decode_ratio"] = (r["blocks_decoded"] / fetched
                                         if fetched else 0.0)
    # the shard kernel's part of an op: one shard's in-process work times
    # the waves of shards over the cores, over the traced op median
    waves = -(-n // cores)
    shard_work = r.get("fetch", 0.0) + r.get("score", 0.0) + r.get("tomb", 0.0)
    values["query.bm25.kernel_share"] = (
        shard_work / n * waves / statistics.median(op_wall.values()))
    values["host.cpu_probe_s"] = statistics.median(probes)
    values["host.cpu_probe_mt_s"] = statistics.median(mt_probes)
    values["host.steal_share"] = steal
    traced = [lat[i] for i in traced_ops]
    untraced = [x for j, x in enumerate(lat) if j not in traced_ops]
    values["trace.overhead_ratio"] = (statistics.median(traced)
                                      / statistics.median(untraced))
    return values


def _print_table(values: dict, n_traced: int, spans: str) -> None:
    log(f"per-layer metrics (medians over {n_traced} traced ops; query "
        "fetch/score/blocks per shard from the in-process replay):")
    for k, u in PER_LAYER.items():
        log(f"  {k:<40} {values[k]:>14.6g} {u}")
    log(f"tracing overhead: traced/untraced op_p50_s = "
        f"{values['trace.overhead_ratio']:.3f}; spans in {spans}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "solr_mapreduce_indexer_spark",
                                       "__init__.py")):
        log(f"engine package not found under {ROOT}")
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        prepare_env(work, bool(args.trace))
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
