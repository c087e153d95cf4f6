"""Query-batch scaling evidence at shard counts >= top-level cores.

The per-shard batch kernel is the unit of query parallelism (one kernel
call per shard, like a Solr/ES fan-out). The batch runs as one stage of
min(S, defaultParallelism) tasks, so one task holds several shards when
S > cores; with S < cores some cores get no shard. The design claim this
tool tests: provision S >= cores and the batch scales with executors. The
task count is read when each batch is planned (README "Query
parallelism"): a batch planned while a level's executors are still
registering runs in fewer tasks. Every round-4 scaling run used S=8
against 8 top-level cores — the shard cap and the executor count were
conflated. This tool isolates the query side:

1. build ONE index from --src at the given shard count (skipped if --index
   points at an existing one), in its own subprocess;
2. run the SAME 256-query batch against that index at two executor levels
   (fresh subprocess each, local-cluster masters), min-of-reps;
3. print qps at both levels + raw efficiency + the same-run CPU ceiling.

Usage:
    python tools/query_scaling_bench.py --src /tmp/smis_scaling_X/transcripts \
        --shards 32 --reducers 64 [--exec-levels 1 4] [--exec-cores 2]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

from scaling_bench import (_record_pid, _unrecord_pid, cpu_ceiling,  # noqa: E402
                           kill_stale_bench_groups)

_BUILD_CHILD = r"""
import os, sys, time
sys.path.insert(0, {repo!r})
from solr_mapreduce_indexer_spark.session import get_spark
from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
os.makedirs("/dev/shm/smis_localdir", exist_ok=True)
os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/smis_localdir"
spark = get_spark(app="qscale_build", master="local[8]",
                  shuffle_partitions=64, driver_memory="16g")
tr = spark.read.parquet({src!r})
cfg = IndexConfig(shards={shards}, reducers={reducers}, fanout=8)
t0 = time.time()
build_index(spark, tr, cfg, {idx!r}, input_path={src!r}, resume=False)
print("BUILT %.1fs" % (time.time() - t0), flush=True)
"""

_QUERY_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from solr_mapreduce_indexer_spark.session import get_spark
from solr_mapreduce_indexer_spark.query.bm25 import load_index, run_queries
os.makedirs("/dev/shm/smis_localdir", exist_ok=True)
os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/smis_localdir"
spark = get_spark(app="qscale_{n_exec}x{cores}", master={master!r},
                  shuffle_partitions=64, driver_memory="16g",
                  executor_memory="8g")
sys.path.insert(0, {repo!r})
from bench import make_queries
qs = make_queries({n_queries})
h = load_index({idx!r})
run_queries(spark, h, qs).count()  # warm-up: worker fan-out + page cache
best = None
for rep in range({reps}):
    t0 = time.time()
    run_queries(spark, h, qs).count()
    el = time.time() - t0
    best = el if best is None else min(best, el)
print("RESULT " + json.dumps({{
    "executors": {n_exec}, "cores": {cores},
    "query_s": round(best, 2), "bm25_qps": round({n_queries} / best, 1)}}),
    flush=True)
"""


def _run_child(code: str, timeout: int) -> str:
    proc = subprocess.Popen([sys.executable, "-c", code],
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    _record_pid(proc.pid)
    try:
        stdout, stderr = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        import signal
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        _unrecord_pid(proc.pid)
        raise
    _unrecord_pid(proc.pid)
    if proc.returncode != 0:
        raise RuntimeError(f"child failed:\n{stdout[-2000:]}\n{stderr[-4000:]}")
    return stdout


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--src", required=True,
                    help="transcripts parquet dir (e.g. a kept scaling_bench "
                         "corpus)")
    ap.add_argument("--index", default=None,
                    help="existing index dir (skips the build)")
    ap.add_argument("--shards", type=int, default=32)
    ap.add_argument("--reducers", type=int, default=64)
    ap.add_argument("--exec-levels", type=int, nargs=2, default=[1, 4])
    ap.add_argument("--exec-cores", type=int, default=2)
    ap.add_argument("--n-queries", type=int, default=256)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--keep", action="store_true")
    ap.add_argument("--timeout", type=int, default=5400)
    args = ap.parse_args()

    kill_stale_bench_groups()
    work = tempfile.mkdtemp(prefix="smis_qscale_")
    idx = args.index or os.path.join(work, f"idx_s{args.shards}")
    if args.index is None:
        print(f"building {args.shards}-shard index from {args.src}",
              flush=True)
        out = _run_child(_BUILD_CHILD.format(
            repo=REPO, src=args.src, idx=idx, shards=args.shards,
            reducers=args.reducers), args.timeout)
        print(out.strip().splitlines()[-1], flush=True)

    lo, hi = sorted(args.exec_levels)
    c = args.exec_cores
    probes = {}

    def probe(tag: str) -> dict:
        cl = cpu_ceiling(lo * c, hi * c)
        probes[tag] = cl["cpu_scaling_efficiency"]
        print("CEILING " + json.dumps(cl | {"at": tag}), flush=True)
        return cl

    ceiling = probe("start")
    levels = {}
    for n_exec in (lo, hi):
        out = _run_child(_QUERY_CHILD.format(
            repo=REPO, idx=idx, n_exec=n_exec, cores=c,
            master=f"local-cluster[{n_exec},{c},8192]",
            n_queries=args.n_queries, reps=args.reps), args.timeout)
        for line in out.splitlines():
            if line.startswith("RESULT "):
                got = json.loads(line[len("RESULT "):])
                levels[str(n_exec)] = got
                print("LEVEL " + json.dumps(got), flush=True)
                break
        else:
            raise RuntimeError(f"no RESULT from level {n_exec}:\n{out[-2000:]}")
        probe(f"after_level_{n_exec}")

    ratio = hi / lo
    eff = (levels[str(hi)]["bm25_qps"] / levels[str(lo)]["bm25_qps"]) / ratio
    ceil = ceiling["cpu_scaling_efficiency"]
    result = {
        "metric": (f"query-batch scaling {lo}->{hi} executors x {c} cores, "
                   f"shards={args.shards} (one shared index, same batch)"),
        "shards": args.shards,
        "n_queries": args.n_queries,
        "levels": levels,
        "hardware_cpu_ceiling": ceiling,
        "ceiling_probes": probes,
        "window_stable": round(max(probes.values())
                               - min(probes.values()), 3) <= 0.15,
        "query_scaling_efficiency": round(eff, 3),
        "query_efficiency_vs_cpu_ceiling": round(eff / ceil, 3),
    }
    if not args.keep and args.index is None:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
