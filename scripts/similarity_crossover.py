"""Day-size sweep of the day-local similarity kernel against the shuffle
plan (``operators/similarity.py``): looks for a day size at which the
shuffle plan wins.

For each day size, builds one day of news-like posts (the benchmark's
``perfbench/gen.py`` article generator: 12 topics, a 4000-word vocabulary
and stop words) and times, on the same session, both plans from the day's
cached rows to fully evaluated (post_id, siblings, related):

- kernel: ``similarity.day_similarity_lists`` (one groupBy(day).applyInPandas);
- shuffle: ``tfidf_vectors`` → ``cosine_pairs`` → ``mirror_pairs`` →
  ``banded_top_n`` → ``similarity_lists``.

A plan still running after ``--limit`` seconds is cancelled and recorded as
such, and so is one whose shuffle leaves less than ``--min-free-gb`` free on
the shuffle disk; a plan stopped at one size is not run at larger sizes.
Peak memory is sampled every 0.2 s from /proc for this process's
descendants: the JVM (driver and executors in local mode) and the Python
workers. The JVM heap defaults to 4g here (``SPARK_DRIVER_MEMORY``
overrides). Run from the repository root:

    python scripts/similarity_crossover.py --sizes 100 1000 10000 100000 \\
        --json BENCH/similarity_crossover.json
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from perfbench import gen  # noqa: E402
from scrapy_newsutils_spark.operators import similarity  # noqa: E402
from scrapy_newsutils_spark.session import get_spark  # noqa: E402


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(p))
    return kids


def _rss_mb(pid: int) -> tuple[str, float]:
    name, rss = "", 0.0
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("Name:"):
                    name = line.split()[1]
                elif line.startswith("VmRSS:"):
                    rss = int(line.split()[1]) / 1024
    except OSError:
        pass
    return name, rss


class Sampler:
    """Peak RSS of the JVM and of the Python workers (summed) under us."""

    def __init__(self):
        self.jvm = self.workers = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            kids, stack, jvm, workers = _children(), [me], 0.0, 0.0
            while stack:
                for c in kids.get(stack.pop(), []):
                    stack.append(c)
                    name, rss = _rss_mb(c)
                    if name == "java":
                        jvm += rss
                    elif name.startswith("python"):
                        workers += rss
            self.jvm, self.workers = max(self.jvm, jvm), max(self.workers, workers)
            self._stop.wait(0.2)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()


def day_frame(spark, n: int, seed: int):
    world = gen.news_world(n, seed)
    ts = dt.datetime.combine(gen.NEWS_DAY, dt.time(12))
    rows = [(i, f"Story {i}", t, ts) for i, t in enumerate(world.texts)]
    return spark.createDataFrame(
        rows, "post_id long, title string, text string, publish_time timestamp")


def kernel_plan(posts):
    return similarity.day_similarity_lists(
        posts, "post_id", similarity.get_post_text(), F.to_date("publish_time"))


def shuffle_plan(posts):
    vec = similarity.tfidf_vectors(posts, "post_id", similarity.get_post_text())
    edges = similarity.mirror_pairs(similarity.cosine_pairs(
        vec, min_score=similarity.RELATED_THRESHOLD))
    return similarity.similarity_lists(similarity.banded_top_n(edges))


def timed(spark, df, limit: float, min_free_gb: float) -> dict:
    """Wall of one full evaluation of ``df``. Cancelled at ``limit``
    seconds, or as soon as the shuffle directory's disk has less than
    ``min_free_gb`` free (a blown-up pair shuffle fills a small disk)."""
    sc = spark.sparkContext
    sc.setJobGroup("crossover", "crossover", interruptOnCancel=True)
    local = os.environ.get("SPARK_LOCAL_DIRS", "/tmp").split(",")[0]
    done, why = threading.Event(), []

    def watchdog():
        while not done.wait(1.0):
            st = os.statvfs(local if os.path.isdir(local) else "/tmp")
            if time.perf_counter() - t >= limit:
                why.append("limit")
            elif st.f_bavail * st.f_frsize < min_free_gb * 2**30:
                why.append("disk")
            if why:
                sc.cancelJobGroup("crossover")
                return

    t = time.perf_counter()
    dog = threading.Thread(target=watchdog, daemon=True)
    dog.start()
    try:
        with Sampler() as mem:
            df.write.format("noop").mode("overwrite").save()
        out = {"wall_s": round(time.perf_counter() - t, 3)}
    except Exception as e:  # cancelled by the watchdog, or failed
        out = {"wall_s": None,
               "stopped_after_s": round(time.perf_counter() - t, 1),
               "stopped_by": why[0] if why else str(e)[:200]}
    finally:
        done.set()
        dog.join()
        sc.setLocalProperty("spark.jobGroup.id", None)
    out.update(jvm_peak_rss_mb=round(mem.jvm), python_workers_peak_rss_mb=round(mem.workers))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", type=int, nargs="+",
                    default=[100, 1000, 10000, 100000])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--limit", type=float, default=300.0)
    ap.add_argument("--min-free-gb", type=float, default=4.0)
    ap.add_argument("--json")
    args = ap.parse_args()
    cpus = len(os.sched_getaffinity(0))
    # the engine's 16g default heap outgrows a ~15 GB host once the pair
    # shuffle of a large day fills it
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=cpus)
    plans = {"kernel": kernel_plan, "shuffle": shuffle_plan}
    warm = day_frame(spark, 50, args.seed)  # first-use costs out of the sweep
    for plan in plans.values():
        plan(warm).write.format("noop").mode("overwrite").save()
    stopped: set[str] = set()
    results = []
    for n in args.sizes:
        posts = day_frame(spark, n, args.seed).cache()
        posts.count()
        row = {"rows": n}
        for name, plan in plans.items():
            if name in stopped:
                row[name] = {"skipped": "stopped at a smaller size"}
                continue
            row[name] = timed(spark, plan(posts), args.limit,
                              args.min_free_gb)
            if row[name]["wall_s"] is None:
                stopped.add(name)
        posts.unpersist()
        results.append(row)
        print(json.dumps(row), flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"seed": args.seed, "limit_s": args.limit,
                       "nproc": cpus, "results": results}, f, indent=1)


if __name__ == "__main__":
    main()
