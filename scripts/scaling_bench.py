"""Scaling-efficiency evidence: the same crawl job at two parallelism levels
(local[2] = N, local[8] = 4N — the sandbox stand-in for N vs 4N executors,
per BENCH/BASELINE.md's measurement protocol).

Each level runs in a FRESH subprocess (own JVM) so neither warmup nor cache
leaks across measurements. The 30M-row fixture tables are generated ONCE
(separate generator subprocess) and each child adopts them by hardlink
(SnapshotTable.adopt_parquet_dir — the Iceberg add_files analog), so a
repeat costs only warmup + timed epochs, not a fixture rebuild; more
interleaved repeats per hour = better odds of sampling the host's quiet
windows (see the noisy-host protocol note in BENCH/BASELINE.md).

Reports throughput at both levels and efficiency = (T_4N / T_N) / 4,
target ≥ 0.8.

Usage: python scripts/scaling_bench.py [--rows 30000000] [--json out.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

GEN = r"""
import sys, time
sys.path.insert(0, {repo!r})
import os
os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
from scrapy_newsutils_spark import fixtures
from scrapy_newsutils_spark.session import get_spark
rows = int(sys.argv[1]); out = sys.argv[2]
spark = get_spark(app_name="scalegen", master="local[16]",
                  shuffle_partitions=16,
                  extra_conf={{"spark.local.dir": "/dev/shm/spark-local-gen"}})
fr = fixtures.frontier_table(spark, n=rows, n_images=1500)
fr.write.mode("overwrite").parquet(out + "/frontier")
seen = fixtures.url_seen_table(spark, spark.read.parquet(out + "/frontier"))
seen.write.mode("overwrite").parquet(out + "/url_seen")
print("GEN_DONE", flush=True)
"""

CHILD = r"""
import json, os, shutil, sys, tempfile, time
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
from scrapy_newsutils_spark import fixtures
from scrapy_newsutils_spark.plans.epoch import CrawlEngine
from scrapy_newsutils_spark.session import get_spark

cpus = int(sys.argv[1]); rows = int(sys.argv[2]); epochs = int(sys.argv[3])
topk = int(sys.argv[4]); fixdir = sys.argv[5]
fanout = int(sys.argv[6]) if len(sys.argv) > 6 else 0
disco_images = int(sys.argv[7]) if len(sys.argv) > 7 else 0
# state + shuffle on tmpfs: the sandbox has ONE physical disk, so disk
# bandwidth would be the (artificial) ceiling at higher thread counts; a
# real cluster's aggregate disk/shuffle bandwidth grows with executors.
# Documented in BENCH/BASELINE.md.
extra = {{"spark.local.dir": f"/dev/shm/spark-local-{{cpus}}"}}
extra.update(json.loads(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "{{}}")))
# shuffle partitions at a small multiple of cores: with exactly 1 partition
# per core a single uneven AQE-coalesced partition idles the other cores
# for the whole stage tail (stage-level parallelism 1.7-2.1 measured in the
# round-4 event-log audit); 4x gives the scheduler slack to rebalance.
shuf = cpus * int(os.environ.get("SPARK_GRAFT_SHUF_MULT", "4"))
spark = get_spark(app_name=f"scale{{cpus}}", master=f"local[{{cpus}}]",
                  shuffle_partitions=shuf, extra_conf=extra)
root = tempfile.mkdtemp(prefix=f"scale{{cpus}}_", dir="/dev/shm")
images = fixtures.images_table(spark, n=1500, small=True).cache(); images.count()
eng = CrawlEngine(spark, root, images=images,
                  robots=fixtures.robots_table(spark), top_k=topk, salts=16,
                  # VERDICT r5 #1: the measured loop can now run WITH link
                  # discovery, so the scaling number exercises the frontier
                  # sidecar probe + _commit_discovery + cash append
                  discovery_fanout=fanout, discovery_images=disco_images)
# zero-copy bootstrap: adopt the shared pre-generated state (hardlinks)
eng.frontier_t.adopt_parquet_dir(fixdir + "/frontier", meta={{"epoch": 0}})
eng.url_seen_t.adopt_parquet_dir(fixdir + "/url_seen", meta={{"epoch": 0}})
eng.run_epoch()  # warmup (JIT + codegen + filter build), untimed
t0 = time.time(); popped = fetched = 0
for _ in range(epochs):
    r = eng.run_epoch(); popped += r.popped; fetched += r.fetched_ok
wall = time.time() - t0
shutil.rmtree(root, ignore_errors=True)
print("RESULT " + json.dumps({{"cpus": cpus, "wall_sec": round(wall, 2),
    "popped": popped, "fetched": fetched,
    "ops_per_sec": round((popped + fetched) / wall, 1),
    "frontier_rows_per_sec": round(rows * epochs / wall, 0)}}))
"""


def run_level(repo: str, cpus: int, rows: int, epochs: int, topk: int,
              fixdir: str, fanout: int = 0, disco_images: int = 0) -> dict:
    code = CHILD.format(repo=repo)
    out = subprocess.run(
        [sys.executable, "-c", code, str(cpus), str(rows), str(epochs),
         str(topk), fixdir, str(fanout), str(disco_images)],
        capture_output=True, text=True, timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(f"level local[{cpus}] failed:\n{out.stdout[-2000:]}\n{out.stderr[-4000:]}")


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=30_000_000)
    ap.add_argument("--epochs", type=int, default=1)
    ap.add_argument("--n", type=int, default=2,
                    help="N threads; 4N runs at n*4. Defaults keep both levels "
                         "within physical cores (SMT beyond ~8 threads caps the "
                         "hardware itself at ~0.79 efficiency on this box)")
    ap.add_argument("--top-k", type=int, default=20_000)
    ap.add_argument("--discovery-fanout", type=int, default=0,
                    help="run the measured loop WITH link discovery "
                         "(synthetic outlinks per fetched page) so the "
                         "scaling number exercises the frontier sidecar + "
                         "discovery commit path (VERDICT r5 #1)")
    ap.add_argument("--discovery-images", type=int, default=0)
    ap.add_argument("--json", default=None)
    ap.add_argument("--fixdir", default=None,
                    help="reuse an existing pre-generated fixture dir")
    ap.add_argument("--keep-fixtures", action="store_true")
    ap.add_argument("--repeat", type=int, default=3,
                    help="interleaved repeats per level; the per-level MEDIAN "
                         "decides pass/fail (a single quiet window must not "
                         "carry the result on this noisy-neighbor host); the "
                         "per-level min is reported alongside as the "
                         "least-contended capacity estimate")
    args = ap.parse_args()
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

    fixdir = args.fixdir
    made_fixtures = False
    if fixdir is None or not os.path.isdir(os.path.join(fixdir, "frontier")):
        fixdir = fixdir or tempfile.mkdtemp(prefix="scalefix_", dir="/dev/shm")
        gen = subprocess.run(
            [sys.executable, "-c", GEN.format(repo=repo), str(args.rows), fixdir],
            capture_output=True, text=True, timeout=1800)
        if "GEN_DONE" not in gen.stdout:
            raise RuntimeError(f"fixture gen failed:\n{gen.stdout[-2000:]}\n{gen.stderr[-3000:]}")
        made_fixtures = True
    print(f"fixtures at {fixdir}", flush=True)

    lo_runs, hi_runs = [], []
    for i in range(args.repeat):
        lo_runs.append(run_level(repo, args.n, args.rows, args.epochs,
                                 args.top_k, fixdir,
                                 args.discovery_fanout, args.discovery_images))
        hi_runs.append(run_level(repo, args.n * 4, args.rows, args.epochs,
                                 args.top_k, fixdir,
                                 args.discovery_fanout, args.discovery_images))
        print(f"repeat {i + 1}/{args.repeat}: N={lo_runs[-1]['wall_sec']}s "
              f"4N={hi_runs[-1]['wall_sec']}s", flush=True)
    def med(runs: list[dict]) -> dict:
        # median-by-wall run (odd repeats → exact median; even → lower mid)
        s = sorted(runs, key=lambda r: r["wall_sec"])
        return s[(len(s) - 1) // 2]

    lo, hi = med(lo_runs), med(hi_runs)
    lo_min = min(lo_runs, key=lambda r: r["wall_sec"])
    hi_min = min(hi_runs, key=lambda r: r["wall_sec"])
    eff_ops = (hi["ops_per_sec"] / lo["ops_per_sec"]) / 4
    eff_min = (hi_min["ops_per_sec"] / lo_min["ops_per_sec"]) / 4
    result = {
        "protocol": f"same job, same input ({args.rows} frontier rows, "
                    f"{args.epochs} timed epochs), fresh JVM per level, "
                    f"{args.repeat} interleaved repeats per level; repeat "
                    f"count FIXED IN ADVANCE (pre-registered — no outcome-"
                    f"dependent stopping; the round-4 240M pool added "
                    f"repeats after seeing a FAIL, which biases a "
                    f"median-decides estimator), per-level MEDIAN decides "
                    f"pass/fail (noisy-host protocol — one quiet window "
                    f"must not carry the result), per-level min reported "
                    f"as least-contended capacity",
        "discovery_fanout": args.discovery_fanout,
        "N": lo, "4N": hi,
        "N_all_walls": [r["wall_sec"] for r in lo_runs],
        "4N_all_walls": [r["wall_sec"] for r in hi_runs],
        "speedup": round(lo["wall_sec"] / hi["wall_sec"], 3),
        "scaling_efficiency": round(eff_ops, 3),
        "scaling_efficiency_min": round(eff_min, 3),
        "target": 0.8,
        "pass": eff_ops >= 0.8,
    }
    print(json.dumps(result, indent=2))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(result, f, indent=2)
    if made_fixtures and not args.keep_fixtures:
        shutil.rmtree(fixdir, ignore_errors=True)


if __name__ == "__main__":
    main()
