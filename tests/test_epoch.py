"""Epoch loop: end-to-end crawl semantics + kill/resume invariance (T1/T5).

The oracle here is a plain-Python re-implementation of one epoch's
semantics (pop order, seen membership, politeness) over the same fixture
rows — per SURVEY §5's reference-semantics-oracle plan.
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from scrapy_newsutils_spark import fixtures
from scrapy_newsutils_spark.plans.epoch import CrawlEngine
from scrapy_newsutils_spark.sources.snapshot_table import CommitConflict


@pytest.fixture()
def engine(spark, tmp_path, frontier_df, images_df, robots_df, url_seen_df):
    eng = CrawlEngine(spark, str(tmp_path / "state"), images=images_df,
                      robots=robots_df, top_k=4, salts=4,
                      epoch_budget_ms=60_000)
    eng.bootstrap(frontier_df, url_seen_df)
    return eng


def _python_oracle_epoch(frontier_rows, seen_keys, robots_rows, k, budget_ms):
    """Reference-semantics oracle: pop order (priority DESC, ts ASC, key ASC),
    seen-set membership (pipelines.py:74-95), robots + token bucket."""
    robots = {r["host"]: r for r in robots_rows}
    by_host: dict[str, list] = {}
    for r in frontier_rows:
        by_host.setdefault(r["host"], []).append(r)
    expect_fetch_attempted, expect_denied, expect_dup = set(), set(), set()
    for host, rows in by_host.items():
        rows.sort(key=lambda r: (-r["priority"], r["discovered_ts"], r["url_key"]))
        rb = robots.get(host)
        delay = rb["crawl_delay_ms"] if rb else 0
        allowance = budget_ms // delay if delay > 0 else 1 << 31
        rank = 0
        for r in rows[:k]:
            if r["url_key"] in seen_keys:
                expect_dup.add(r["url_key"])
                continue
            rank += 1
            path = "/" + r["url"].split("/", 3)[3]
            if rb and any(path.startswith(p) for p in (rb["disallow_prefixes"] or [])):
                expect_denied.add(r["url_key"])
            elif rank <= allowance:
                expect_fetch_attempted.add(r["url_key"])
    return expect_fetch_attempted, expect_denied, expect_dup


def test_epoch_matches_python_oracle(spark, engine, frontier_df, robots_df,
                                     url_seen_df):
    """Crawl ordering + URL-seen membership equal the reference-semantics
    oracle (the north rule's correctness gate)."""
    frontier_rows = [r.asDict() for r in frontier_df.collect()]
    seen_keys = {r["url_key"] for r in url_seen_df.collect()}
    robots_rows = [r.asDict() for r in robots_df.collect()]

    res = engine.run_epoch()
    fetched = engine.fetched_t.read(spark)

    want_ok, want_denied, want_dup = _python_oracle_epoch(
        frontier_rows, seen_keys, robots_rows, k=4, budget_ms=60_000)

    got_attempted = {r["url_key"] for r in
                     fetched.where(F.col("status") != "robots_denied").collect()}
    got_denied = {r["url_key"] for r in
                  fetched.where(F.col("status") == "robots_denied").collect()}
    assert got_attempted == want_ok
    assert got_denied == want_denied
    assert res.dedup_dropped == len(want_dup)

    # URL-seen membership after the epoch = before ∪ attempted ∪ denied
    seen_after = {r["url_key"] for r in engine.url_seen_t.read(spark).collect()}
    assert seen_after == seen_keys | want_ok | want_denied


def test_epoch_pixels_and_captions_match_payload(spark, engine, images_df):
    """Per-row invariant (input_hint): fetched bytes/caption identical to
    the payload table's row for that image_id (exact: the fetch join must
    not corrupt payloads; decode-level PSNR is covered in test_images)."""
    engine.run_epoch()
    fetched = engine.fetched_t.read(spark).where(F.col("status") == "ok")
    src = {r["image_id"]: (bytes(r["bytes"]), r["caption"], r["phash"])
           for r in images_df.collect()}
    for r in fetched.collect():
        b, c, p = src[r["image_id"]]
        assert bytes(r["bytes"]) == b
        assert r["caption"] == c
        assert r["phash"] == p


def test_multi_epoch_counts_consistent(spark, engine, frontier_df):
    total = frontier_df.count()
    results = engine.run(3)
    remaining = engine.frontier_t.read(spark).count()
    removed = sum(r.popped - r.deferred for r in results)
    assert remaining == total - removed
    # no url fetched twice across epochs
    fetched = engine.fetched_t.read(spark)
    assert fetched.count() == fetched.select("url_key").distinct().count()


def test_resume_equals_uninterrupted(spark, tmp_path, frontier_df, images_df,
                                     robots_df, url_seen_df):
    """Kill-after-epoch-k resume: state tables equal an uninterrupted run
    (T5 — resume from last committed snapshot with identical state)."""
    def mk(name):
        eng = CrawlEngine(spark, str(tmp_path / name), images=images_df,
                          robots=robots_df, top_k=4, salts=4)
        eng.bootstrap(frontier_df, url_seen_df)
        return eng

    a = mk("a")
    a.run(3)

    b = mk("b")
    b.run(1)
    # "kill": drop the engine object; re-open from disk only
    b2 = CrawlEngine(spark, str(tmp_path / "b"), images=images_df,
                     robots=robots_df, top_k=4, salts=4)
    assert b2.last_epoch() == 1
    b2.run(2)

    for attr in ("frontier_t", "url_seen_t", "fetched_t"):
        da = getattr(a, attr).read(spark)
        db = getattr(b2, attr).read(spark)
        ka = sorted(r["url_key"] for r in da.select("url_key").collect())
        kb = sorted(r["url_key"] for r in db.select("url_key").collect())
        assert ka == kb, attr


def test_partial_commit_rollback(spark, tmp_path, frontier_df, images_df,
                                 robots_df, url_seen_df):
    """Simulate a crash between companion-table commits: fetched rows are
    stamped with an epoch the frontier never reached → discarded on resume."""
    eng = CrawlEngine(spark, str(tmp_path / "c"), images=images_df,
                      robots=robots_df, top_k=4, salts=4)
    eng.bootstrap(frontier_df, url_seen_df)
    eng.run(1)
    # forge a partial epoch-2 commit on fetched only
    orphan = eng.fetched_t.read(spark).limit(5).withColumn("epoch", F.lit(2))
    eng.fetched_t.append(orphan, meta={"epoch": 2})

    eng2 = CrawlEngine(spark, str(tmp_path / "c"), images=images_df,
                       robots=robots_df, top_k=4, salts=4)
    res = eng2.run_epoch()
    assert res.epoch == 2
    fetched = eng2.fetched_t.read(spark)
    # orphaned rows were rolled back: everything at epoch 2 was produced by
    # the re-run, and nothing is double-counted
    assert fetched.count() == fetched.select("url_key").distinct().count()


def test_commit_conflict_detection(spark, tmp_path, frontier_df, images_df,
                                   robots_df):
    eng = CrawlEngine(spark, str(tmp_path / "d"), images=images_df,
                      robots=robots_df)
    eng.bootstrap(frontier_df)
    v = eng.frontier_t.current_version()
    eng.frontier_t.overwrite(frontier_df.limit(1), meta={}, expected_version=v)
    with pytest.raises(CommitConflict):
        eng.frontier_t.overwrite(frontier_df.limit(1), meta={}, expected_version=v)


def test_expire_seen_recrawl_ttl(spark, tmp_path, frontier_df, images_df,
                                 robots_df, url_seen_df):
    """Recrawl TTL: expired url_seen rows disappear via an MoR delete
    delta; the Bloom filter store, which cannot delete, is discarded and
    its rebuild reads every expired key as new; a URL re-seen later
    appends a new row that SURVIVES the old delete (delete keyed on
    url_key+epoch)."""
    from scrapy_newsutils_spark.operators import dedup as DD

    eng = CrawlEngine(spark, str(tmp_path / "ttl"), images=images_df,
                      robots=robots_df, top_k=4, salts=4)
    eng.bootstrap(frontier_df, url_seen_df)
    eng.run(1)
    seen_keys = [r["url_key"] for r in
                 eng.url_seen_t.read(spark).select("url_key").collect()]
    seen = spark.createDataFrame([(k,) for k in seen_keys], "url_key long")
    n_before = len(seen_keys)
    assert n_before > 0

    def filter_hit_share(exact: bool) -> float:
        tagged = DD.tag_by_filter_store(spark, seen, eng._filter_store_dir(),
                                        exact=exact)
        return tagged.where("_maybe").count() / n_before

    eng._get_bloom()
    # the approximate filter alone (exact=False) holds every seen key
    assert filter_hit_share(exact=False) == 1.0

    dropped = eng.expire_seen(0)  # everything is older than 0 epochs
    assert dropped == n_before
    assert eng.url_seen_t.count(spark) == 0
    # Bloom can't forget: the store is dropped and rebuilt from the table
    assert eng._filter is None
    eng._get_bloom()
    assert filter_hit_share(exact=True) == 0.0

    # a re-seen URL survives the old delete delta
    one = spark.createDataFrame(
        [(int(seen_keys[0]), "h0.example.com", 99, 0)],
        "url_key long, host string, first_seen_epoch int, bucket int")
    eng.url_seen_t.append(one, meta={"epoch": 99})
    got = eng.url_seen_t.read(spark).where(
        F.col("url_key") == int(seen_keys[0]))
    assert got.count() == 1 and got.first()["first_seen_epoch"] == 99


def test_fetch_epoch_rows_equals_union_form(spark, frontier_df, images_df,
                                            robots_df):
    """The single-branch fetch plan (observation-safe, one polite scan) is
    row-for-row identical to the execute_fetches ∪ denied_rows union."""
    from scrapy_newsutils_spark.operators import frontier as frontier_ops
    from scrapy_newsutils_spark.operators import politeness
    from scrapy_newsutils_spark.sources import fetch as fetch_ops

    popped = frontier_ops.pop_top_k_per_host(frontier_df, 4, salts=4)
    polite = politeness.with_politeness(popped, robots_df, 60_000)
    single = fetch_ops.fetch_epoch_rows(polite, images_df, epoch=7)
    union = fetch_ops.execute_fetches(polite, images_df, epoch=7).unionByName(
        fetch_ops.denied_rows(polite, epoch=7))
    cols = fetch_ops.fetched_schema_cols()

    def norm(df):
        return sorted(
            (tuple(r[c] for c in cols if c != "bytes") +
             (bytes(r["bytes"]) if r["bytes"] is not None else None,))
            for r in df.collect())

    a, b = norm(single), norm(union)
    assert len(a) > 0 and a == b
