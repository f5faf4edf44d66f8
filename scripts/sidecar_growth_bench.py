"""Frontier-sidecar capacity lifecycle under sustained growth (VERDICT r5
#7): run a growth-dominated crawl (high fanout, low top_k) in store mode and
record every sidecar (re)build — epoch, trigger, frontier-size estimate —
to show the rebuild cadence is bounded (geometric capacity growth → rebuild
interval grows as the frontier does; amortized O(growth) per epoch, like
vector doubling).

Usage: python scripts/sidecar_growth_bench.py [--rows 200000] [--epochs 30]
       [--fanout 8] [--top-k 500] [--json BENCH/sidecar_growth.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")

from scrapy_newsutils_spark import fixtures  # noqa: E402
from scrapy_newsutils_spark.operators import dedup  # noqa: E402
from scrapy_newsutils_spark.plans.epoch import CrawlEngine  # noqa: E402
from scrapy_newsutils_spark.session import get_spark  # noqa: E402


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=200_000)
    ap.add_argument("--epochs", type=int, default=30)
    ap.add_argument("--fanout", type=int, default=8)
    ap.add_argument("--top-k", type=int, default=500)
    ap.add_argument("--cap-per-bucket", type=int, default=25_000_000)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name="sidecar_growth", master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    root = tempfile.mkdtemp(prefix="sidecar_growth_")
    images = fixtures.images_table(spark, n=500, small=True).cache()
    images.count()
    frontier = fixtures.frontier_table(spark, n=args.rows, n_images=500)
    eng = CrawlEngine(spark, root, images=images,
                      robots=fixtures.robots_table(spark),
                      top_k=args.top_k, salts=8,
                      filter_cap_per_bucket=args.cap_per_bucket,
                      discovery_fanout=args.fanout, discovery_images=500)
    eng.bootstrap(frontier, fixtures.url_seen_table(spark, frontier))

    builds: list[dict] = []
    real_build = dedup.build_partitioned
    state = {"epoch": 0}

    def counting_build(seen, store_path, *a, **kw):
        which = ("frontier" if "frontier_filters" in store_path
                 else "url_seen" if "url_seen_filters" in store_path
                 else "other")
        builds.append({"epoch": state["epoch"], "store": which,
                       "expected": kw.get("expected"),
                       "frontier_est": eng._frontier_rows_est})
        return real_build(seen, store_path, *a, **kw)

    dedup.build_partitioned = counting_build
    walls = []
    try:
        for e in range(1, args.epochs + 1):
            state["epoch"] = e
            t0 = time.time()
            r = eng.run_epoch()
            walls.append(round(time.time() - t0, 2))
            if r.popped == 0:
                break
    finally:
        dedup.build_partitioned = real_build

    fr_builds = [b for b in builds if b["store"] == "frontier"]
    out = {
        "protocol": f"{args.rows} seed rows, fanout={args.fanout}, "
                    f"top_k={args.top_k}, {len(walls)} epochs, store mode; "
                    "every dedup.build_partitioned call recorded with the "
                    "epoch that triggered it",
        "epochs_run": len(walls),
        "frontier_rows_final_est": eng._frontier_rows_est,
        "builds": builds,
        "frontier_builds": len(fr_builds),
        "frontier_rebuild_epochs": [b["epoch"] for b in fr_builds],
        "epoch_walls": walls,
    }
    print(json.dumps(out, indent=1))
    if args.json:
        with open(args.json, "w") as f:
            json.dump(out, f, indent=1)


if __name__ == "__main__":
    main()
