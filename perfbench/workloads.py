"""The benchmark workloads: closed loops with one caller over public entry
points of the engine. Each returns a ``Run`` with its timings, op counts,
output-check failures and an order-insensitive digest of its outputs.

crawl_scan
    ``CrawlEngine.bootstrap`` then ``run_epoch`` back to back: one cold
    epoch, then timed epochs until ``seconds`` have passed (at least
    ``min_timed``). Store-mode Bloom URL-seen filter, synthetic discovery
    fanout and a compaction every ``compact_every`` delete deltas, so the
    run crosses at least one merge-on-read compaction.
news_day
    Set-up primes the crawl path with a few pages on a table of its own.
    Then one day: the day's article pages go through ``run_crawl_day``
    (parse, posts pipeline, partitioned MERGE), then ``save_day`` writes the
    NLP columns (similarity, summaries, metaposts), then the day's posts plus
    injected duplicates go through ``prepare_corpus`` and generated vectors
    through ``embedding_near_dups``.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from scrapy_newsutils_spark import schemas
from scrapy_newsutils_spark.functions.text import LANG_MARKERS
from scrapy_newsutils_spark.operators import pipeline, training
from scrapy_newsutils_spark.plans import corpus_job, crawl_compose, nlp_job
from scrapy_newsutils_spark.plans.epoch import CrawlEngine
from scrapy_newsutils_spark.sources.snapshot_table import SnapshotTable

from . import gen

CRAWL = {"rows": 40_000, "images": 500, "top_k": 15, "fanout": 2,
         "compact_every": 2, "min_timed": 2, "digest_epochs": 2}
NEWS = {"articles": 100, "vectors": 600, "prime": 4}


@dataclass
class Run:
    setup_s: float = 0.0
    ops: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    work: float = 0.0
    work_wall_s: float = 0.0
    first_op_s: float = 0.0
    e2e_s: float = 0.0
    digest: str = ""
    info: dict = field(default_factory=dict)

    def attempt(self, kind: str, span: str, fn, tracer=None):
        """Run one closed-loop op and record its wall time under ``kind``.
        An op that raises counts as failed and returns None."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            with tracer.op(span) if tracer is not None else nullcontext():
                out = fn()
        except Exception as e:  # a failed op is counted, not fatal
            self.failed += 1
            self.failures.append(f"{kind} #{self.attempted}: {e!r}"[:300])
            return None
        self.ops.setdefault(kind, []).append(time.perf_counter() - t)
        return out

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)


def _digest(df, *cols) -> str:
    """Order-insensitive digest: row count and the exact sum of a 64-bit
    hash of each row."""
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(F.xxhash64(*cols).cast("decimal(38,0)")).alias("h")).first()
    return f"{r['n']}:{r['h'] or 0}"


# -- crawl_scan ----------------------------------------------------------------

def crawl_setup(spark, root: str, seed: int, size: dict, mode: str):
    images = gen.images(spark, size["images"], seed).cache()
    images.count()
    frontier = gen.frontier(spark, size["rows"], seed, size["images"])
    engine = CrawlEngine(
        spark, root, images, gen.robots(spark, seed), top_k=size["top_k"],
        use_bloom=(mode == "store"), filter_probe="store",
        filter_kind="bloom", discovery_fanout=size["fanout"],
        discovery_images=size["images"], compact_every=size["compact_every"])
    engine.bootstrap(frontier, gen.url_seen(frontier, seed))
    return engine


def crawl_scan(spark, root: str, seed: int, seconds: float, tracer=None,
               size: dict = CRAWL, mode: str = "store") -> Run:
    run = Run()
    t = time.perf_counter()
    engine = crawl_setup(spark, os.path.join(root, "crawl"), seed, size, mode)
    run.setup_s = time.perf_counter() - t

    first = run.attempt("first_epoch", "epoch.run_epoch", engine.run_epoch, tracer)
    history = [first] if first is not None else []
    if history:
        t0 = time.perf_counter()
        while len(history) - 1 < size["min_timed"] or \
                time.perf_counter() - t0 < seconds:
            res = run.attempt("epoch", "epoch.run_epoch", engine.run_epoch, tracer)
            if res is None:
                break
            history.append(res)
        run.work_wall_s = time.perf_counter() - t0
        run.first_op_s = run.ops["first_epoch"][0]
    run.work = sum(r.popped + r.fetched_ok for r in history[1:])
    run.e2e_s = sum(run.ops.get("first_epoch", []) + run.ops.get("epoch", []))
    run.info["epochs"] = [vars(r) for r in history]
    run.info["compactions"] = sum(
        1 for v in range(engine.frontier_t.current_version() + 1)
        if engine.frontier_t.manifest(v)["meta"].get("compaction"))
    _check_crawl(spark, engine, history, run, size)
    return run


def _check_crawl(spark, engine, history, run: Run, size: dict) -> None:
    fetched = engine.fetched_t.read(spark)
    seen = engine.url_seen_t.read(spark)
    disallowing = engine.robots.where(F.size("disallow_prefixes") > 0) \
        .select("host", F.lit(True).alias("_disallow"))
    leak = (F.col("_disallow") & F.col("url").contains("/private/")
            & (F.col("status") == "ok"))
    per_epoch = {r["epoch"]: r for r in (
        fetched.join(F.broadcast(disallowing), "host", "left")
        .groupBy("epoch").agg(F.count(F.lit(1)).alias("rows"),
                              F.sum(leak.cast("int")).alias("leaks"))
        .collect())}
    seen_per_epoch = {r["first_seen_epoch"]: r["n"] for r in seen.groupBy(
        "first_seen_epoch").agg(F.count(F.lit(1)).alias("n")).collect()}
    for r in history:
        fresh = r.popped - r.dedup_dropped
        rows = per_epoch[r.epoch]["rows"] if r.epoch in per_epoch else 0
        run.check(rows == r.fetched_ok + r.robots_denied == fresh - r.deferred,
                  f"epoch {r.epoch}: fetched rows {rows} != ok {r.fetched_ok} "
                  f"+ denied {r.robots_denied} != fresh {fresh} - deferred {r.deferred}")
        run.check(seen_per_epoch.get(r.epoch, 0) == rows,
                  f"epoch {r.epoch}: url_seen rows != fetched rows")
    leaks = sum(r["leaks"] or 0 for r in per_epoch.values())
    run.check(leaks == 0, f"{leaks} /private/ URLs fetched ok on disallowing hosts")
    keys = seen.agg(F.count(F.lit(1)).alias("n"),
                    F.countDistinct("url_key").alias("d")).first()
    # every fetched row was recorded as seen, so unique live url_seen keys
    # also mean no URL was fetched twice or fetched after being pre-seen
    run.check(keys["n"] == keys["d"], "live url_seen keys are not unique")
    n = size["digest_epochs"]
    run.digest = (
        _digest(fetched.where(F.col("epoch") <= n), "epoch", "url_key", "status")
        + "/" + _digest(seen.where(F.col("first_seen_epoch") <= n), "url_key"))


# -- news_day ----------------------------------------------------------------------

def _empty_posts(spark, path: str) -> SnapshotTable:
    t = SnapshotTable(path, schemas.POSTS)
    t.overwrite(spark.createDataFrame([], schemas.POSTS))
    return t


def news_setup(spark, root: str, seed: int, size: dict) -> dict:
    """Inputs and an empty posts table. The crawl path runs once over a
    few pages into a table of its own first: the cold first run of parse,
    the posts pipeline and the MERGE swings widely on a busy host, and
    it happens in set-up, not in the timed day."""
    world = gen.news_world(size["articles"], seed)
    posts_t = _empty_posts(spark, os.path.join(root, "posts"))
    day = gen.NEWS_DAY
    dates = pipeline.parse_dates(day.isoformat(),
                                 (day + dt.timedelta(days=1)).isoformat())
    crawl_compose.run_crawl_day(
        spark, gen.news_pages(spark, gen.news_world(size["prime"], seed)),
        _empty_posts(spark, os.path.join(root, "prime")), gen.NEWS_SOURCE, dates)
    corpus = gen.corpus(world, seed, size["vectors"])
    frames = {
        "pages": gen.news_pages(spark, world),
        "dups": spark.createDataFrame(corpus.dups, "doc_id long, text string"),
        "vectors": spark.createDataFrame(
            corpus.vectors, "vec_id long, embedding array<float>, label int"),
    }
    for df in frames.values():
        df.cache().count()
    return {"world": world, "posts_t": posts_t, "corpus": corpus,
            "dates": dates, **frames}


def news_day(spark, root: str, seed: int, seconds: float, tracer=None,
             size: dict = NEWS) -> Run:
    run = Run()
    t = time.perf_counter()
    s = news_setup(spark, os.path.join(root, "news"), seed, size)
    run.setup_s = time.perf_counter() - t
    world, posts_t, day, dates = s["world"], s["posts_t"], gen.NEWS_DAY, s["dates"]

    def corpus():
        posts = posts_t.read(spark).where(~F.col("type").startswith("metapost"))
        docs = posts.select(F.col("post_id").alias("doc_id"), "text") \
            .unionByName(s["dups"])
        prepared = corpus_job.prepare_corpus(
            docs, langs=tuple(sorted(LANG_MARKERS)) + ("und",),
            min_quality=0.0, min_tokens=1)
        kept = prepared.where("is_keeper").count()
        pairs = training.embedding_near_dups(s["vectors"]).count()
        return docs.count(), kept, pairs

    t0 = time.perf_counter()
    out = {"crawl_day": run.attempt(
        "crawl_day", "news.crawl_day", lambda: crawl_compose.run_crawl_day(
            spark, s["pages"], posts_t, gen.NEWS_SOURCE, dates)[0], tracer)}
    if out["crawl_day"] is not None:
        out["nlp_day"] = run.attempt(
            "nlp_day", "news.nlp_day",
            lambda: nlp_job.save_day(spark, posts_t, day), tracer)
    if out.get("nlp_day") is not None:
        out["corpus"] = run.attempt("corpus", "news.corpus", corpus, tracer)
    run.e2e_s = time.perf_counter() - t0
    run.work_wall_s = run.e2e_s
    run.work = world.n
    if out.get("corpus") is not None:
        # time to the first posts with NLP columns
        run.first_op_s = run.ops["crawl_day"][0] + run.ops["nlp_day"][0]
        _check_news(spark, s, out, run)
    return run


def _check_news(spark, s: dict, out: dict, run: Run) -> None:
    world, posts_t = s["world"], s["posts_t"]
    n = world.n
    plain = posts_t.read(spark).where(~F.col("type").startswith("metapost"))
    r = plain.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("short_link").alias("links"),
        F.sum((F.col("version") != 1).cast("int")).alias("later"),
        F.sum(F.col("summary").isNull().cast("int")).alias("no_summary"),
        F.countDistinct(F.to_date("publish_time")).alias("days")).first()
    stats = out["crawl_day"]
    run.check(stats.new == stats.saved == n,
              f"crawl batch saved {stats.saved} new {stats.new}, expected {n}")
    run.check(r["n"] == r["links"] == n and r["later"] == 0,
              f"{r['n']} posts over {r['links']} links, expected {n} version-1 posts")
    run.check(r["days"] == 1, f"posts span {r['days']} days, expected 1")
    run.check(r["no_summary"] == 0, f"{r['no_summary']} posts lack NLP columns")
    docs, kept, pairs = out["corpus"]
    run.check(kept == n, f"corpus kept {kept} of {docs} docs, expected {n}")
    run.check(pairs == s["corpus"].vector_dups,
              f"embedding near-dup pairs {pairs}, expected {s['corpus'].vector_dups}")
    run.digest = _digest(plain, "post_id", "text", "summary", "siblings") + "/" \
        + f"{kept}:{pairs}"


WORKLOADS = {"crawl_scan": crawl_scan, "news_day": news_day}
