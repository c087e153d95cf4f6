"""Steady-state A/B probe of Spark conf knobs for the build pipeline.

Runs build_index on a pre-synthesized corpus at one parallelism level in a
fresh JVM per config (warm-up build first, then a timed build), printing one
line per config. Used to choose shuffle/IO settings for the sandbox's
virtualized filesystem; not part of the engine.

Usage: python tools/conf_probe.py <src_parquet> <cpus> [config ...]
Configs: base | zstd | tmpfs | bigbuf | all
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CONFS = {
    "base": {},
    "zstd": {"spark.io.compression.codec": "zstd"},
    "tmpfs": {"spark.local.dir": "/dev/shm/smis_localdir"},
    "bigbuf": {"spark.shuffle.file.buffer": "1m",
               "spark.shuffle.localDisk.file.output.buffer": "1m"},
    "all": {"spark.io.compression.codec": "zstd",
            "spark.local.dir": "/dev/shm/smis_localdir",
            "spark.shuffle.file.buffer": "1m",
            "spark.shuffle.localDisk.file.output.buffer": "1m"},
}

_CHILD = r"""
import json, shutil, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
extra = json.loads({extra!r})
b = (SparkSession.builder.master("local[{cpus}]").appName("confprobe")
     .config("spark.sql.shuffle.partitions", "64")
     .config("spark.sql.adaptive.enabled", "true")
     .config("spark.sql.session.timeZone", "UTC")
     .config("spark.sql.execution.arrow.pyspark.enabled", "true")
     .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
     .config("spark.driver.memory", "16g")
     .config("spark.driver.extraJavaOptions", "-Xms16g")
     .config("spark.ui.enabled", "false"))
for k, v in extra.items():
    b = b.config(k, v)
spark = b.getOrCreate(); spark.sparkContext.setLogLevel("ERROR")
import pyspark.sql.functions as F
from solr_mapreduce_indexer_spark.config import IndexConfig
from solr_mapreduce_indexer_spark.index.build import build_index
tr = spark.read.parquet({src!r})
cfg = IndexConfig(shards=8, reducers=64, fanout=8)
warm = tr.where(F.abs(F.xxhash64("conv_id")) % 10 == 0)
shutil.rmtree("/tmp/confprobe_idx", ignore_errors=True)
build_index(spark, warm, cfg, "/tmp/confprobe_idx_w", resume=False)
t0 = time.time()
build_index(spark, tr, cfg, "/tmp/confprobe_idx", resume=False)
el = time.time() - t0
n = tr.count()
print("RESULT " + json.dumps({{"build_s": round(el, 1),
                               "turns_per_sec": round(n / el, 1)}}))
shutil.rmtree("/tmp/confprobe_idx", ignore_errors=True)
shutil.rmtree("/tmp/confprobe_idx_w", ignore_errors=True)
"""


def main() -> None:
    src, cpus = sys.argv[1], int(sys.argv[2])
    names = sys.argv[3:] or list(CONFS)
    for name in names:
        extra = CONFS[name]
        if "spark.local.dir" in extra:
            os.makedirs(extra["spark.local.dir"], exist_ok=True)
        code = _CHILD.format(repo=REPO, extra=json.dumps(extra),
                             cpus=cpus, src=src)
        out = subprocess.run([sys.executable, "-c", code],
                             capture_output=True, text=True, timeout=1800)
        line = next((l for l in out.stdout.splitlines()
                     if l.startswith("RESULT ")), None)
        if line:
            print(json.dumps({"conf": name, "cpus": cpus,
                              **json.loads(line[7:])}))
        else:
            print(json.dumps({"conf": name, "cpus": cpus, "error":
                              out.stderr[-500:]}))


if __name__ == "__main__":
    main()
