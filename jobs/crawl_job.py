"""Cluster job entry: the crawl epoch loop under ``spark-submit``.

    spark-submit --py-files scrapy_newsutils_spark.zip jobs/crawl_job.py \
        --state-root s3://bucket/crawl-state --epochs 10 --top-k 200

Run ``python scripts/package.py`` to build the --py-files zip. On a real
cluster no ``master`` is passed — the session inherits the submit-time
cluster manager; ``local[N]`` is only the sandbox default. The same entry
runs at N and 4N executors unchanged (the scaling protocol of BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# direct `python jobs/crawl_job.py` runs (no --py-files): repo root on path
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--state-root", required=True)
    ap.add_argument("--epochs", type=int, default=5)
    ap.add_argument("--top-k", type=int, default=200)
    ap.add_argument("--salts", type=int, default=16)
    ap.add_argument("--epoch-budget-ms", type=int, default=60_000)
    ap.add_argument("--sources-json", default=None,
                    help="spiders.json-shaped source config; seeds the "
                         "frontier on first run")
    ap.add_argument("--images-table", default=None,
                    help="parquet path of the payload table (sandbox: "
                         "synthesized when omitted)")
    ap.add_argument("--synthetic-frontier-rows", type=int, default=0,
                    help="sandbox only: synthesize a frontier of this size")
    ap.add_argument("--discovery-fanout", type=int, default=0,
                    help=">0: fetched pages emit this many outlinks "
                         "(synthetic S2 stand-in)")
    ap.add_argument("--expire-seen-epochs", type=int, default=0,
                    help=">0: recrawl TTL — forget url_seen rows older "
                         "than this many epochs after the run")
    ap.add_argument("--master", default=None,
                    help="override master (sandbox local[N]); omit under "
                         "spark-submit on a cluster")
    args = ap.parse_args()

    from scrapy_newsutils_spark import fixtures
    from scrapy_newsutils_spark.plans.epoch import CrawlEngine
    from scrapy_newsutils_spark.session import get_spark
    from scrapy_newsutils_spark.sources import config as cfg

    spark = get_spark(app_name="crawl_job", master=args.master)

    if args.images_table:
        images = spark.read.parquet(args.images_table)
    else:
        images = fixtures.images_table(spark, n=1500, small=True).cache()
    robots = fixtures.robots_table(spark)

    eng = CrawlEngine(spark, args.state_root, images=images, robots=robots,
                      top_k=args.top_k, salts=args.salts,
                      epoch_budget_ms=args.epoch_budget_ms,
                      discovery_fanout=args.discovery_fanout)

    if eng.last_epoch() == 0:
        if args.synthetic_frontier_rows:
            frontier = fixtures.frontier_table(
                spark, n=args.synthetic_frontier_rows)
            seen = fixtures.url_seen_table(spark, frontier)
        elif args.sources_json:
            sources = cfg.validate_sources(
                cfg.load_sources_json(spark, args.sources_json))
            frontier = cfg.seed_frontier(sources)
            seen = None
        else:
            raise SystemExit("first run needs --sources-json or "
                             "--synthetic-frontier-rows")
        eng.bootstrap(frontier, seen)

    for res in eng.run(args.epochs):
        print(json.dumps({
            "epoch": res.epoch, "popped": res.popped,
            "fetched_ok": res.fetched_ok, "robots_denied": res.robots_denied,
            "dedup_dropped": res.dedup_dropped, "deferred": res.deferred,
            "wall_s": round(res.wall_s, 2),
        }), flush=True)

    if args.expire_seen_epochs > 0:
        n = eng.expire_seen(args.expire_seen_epochs)
        print(json.dumps({"ttl_expired": n}), flush=True)


if __name__ == "__main__":
    main()
