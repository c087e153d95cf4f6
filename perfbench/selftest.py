"""Self-test of the benchmark on a tiny corpus.

    python3 perfbench/selftest.py

Checks, for every workload in BENCHMARK.json:
  * a timed run (--trace 0) prints every end-to-end metric with its unit,
    and a traced run (--trace 1) every per-layer metric, with correct=true
    and no failed op;
  * a run with one planted wrong result row counts a failed op;
and that the benchmark exits non-zero, printing no result, in a directory
holding only BENCHMARK.json and the benchmark's own files.
Takes several minutes: each run starts its own Spark session.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(args: list[str], cwd: str = ROOT) -> tuple[int, dict | None]:
    p = subprocess.run([sys.executable, os.path.join(cwd, "perfbench",
                                                     "run.py"), *args],
                       cwd=cwd, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if p.returncode != 0 and result is not None:
        sys.stderr.write(p.stderr[-4000:])
    return p.returncode, result


def check_metrics(result: dict, spec: list[dict], what: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, what
    assert result["attempted"] >= 1, what
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want, f"{what}: metrics {got} != {want}"
    for k, v in result["metrics"].items():
        assert isinstance(v["value"], (int, float)), f"{what}: {k}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    common = ["--seed", "7", "--seconds", "1", "--scale", "tiny"]
    for wl in (w["name"] for w in bench["workloads"]):
        for trace, spec in (("0", bench["end_to_end"]),
                            ("1", bench["per_layer"])):
            rc, res = run(["--workload", wl, "--trace", trace, *common])
            what = f"{wl} --trace {trace}"
            assert rc == 0 and res is not None, f"{what}: exit {rc}"
            check_metrics(res, spec, what)
            assert res["correct"] and res["failed"] == 0, f"{what}: {res}"
            print(f"ok   {what}: {len(spec)} metrics, "
                  f"{res['attempted']} ops", flush=True)
        rc, res = run(["--workload", wl, "--trace", "0", "--plant-wrong-row",
                       *common])
        assert rc == 0 and res is not None, f"{wl} planted: exit {rc}"
        assert not res["correct"] and res["failed"] >= 1, \
            f"{wl}: a planted wrong row was not counted: {res}"
        print(f"ok   {wl}: planted wrong row counted as "
              f"{res['failed']} failed op(s)", flush=True)

    bare = os.path.join(ROOT, ".perfbench_work", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        rc, res = run(["--workload", bench["workloads"][0]["name"],
                       "--trace", "0", *common], cwd=bare)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    assert rc != 0 and res is None, f"bare directory: exit {rc}, {res}"
    print(f"ok   bare directory: exit {rc}, no result", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
