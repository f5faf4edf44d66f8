"""Cross-cutting invariants: end-to-end pixel PSNR + caption equality on
fetched rows (the input_hint's per-row gate), filter-store engine parity,
C3 scalars, pluggable metapost link factory."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from scrapy_newsutils_spark import fixtures
from scrapy_newsutils_spark.functions import images as I
from scrapy_newsutils_spark.functions import text as TX
from scrapy_newsutils_spark.plans.epoch import CrawlEngine


def test_fetched_rows_decode_to_reference_pixels(spark, tmp_path, frontier_df,
                                                 images_df, robots_df):
    """input_hint per-row invariant, end to end: decode every fetched
    payload and compare against the deterministic pixel oracle — exact for
    png, PSNR >= 40 dB for the lossy format; captions exactly equal."""
    eng = CrawlEngine(spark, str(tmp_path / "s"), images=images_df,
                      robots=robots_df, top_k=3, salts=4)
    eng.bootstrap(frontier_df)
    eng.run_epoch()
    rows = eng.fetched_t.read(spark).where(F.col("status") == "ok") \
        .limit(40).collect()
    assert rows
    for r in rows:
        i = int(r["image_id"].split("-")[1])
        w, h, fmt = fixtures.dims_for(i)
        want_px = fixtures.pixels_for(i, w, h)
        got_px = I.decode_image(bytes(r["bytes"]))
        if fmt == "png":
            assert np.array_equal(got_px, want_px), r["image_id"]
        else:
            assert I.psnr(want_px, got_px) >= 40.0, r["image_id"]
        assert r["caption"] == fixtures.caption_for(i)


def test_store_probe_engine_matches_exact_engine(spark, tmp_path,
                                                 frontier_df, images_df,
                                                 robots_df, url_seen_df):
    """The filter-store probe (per-bucket file loads after a bucket
    repartition — the 10^10 path) must leave the exact state of the plain
    anti-join engine (use_bloom=False) — here across a crash between the
    url_seen commit (table AND exact segments) and the epoch-closing
    frontier commit, resumed by a fresh engine."""
    from scrapy_newsutils_spark.operators import dedup

    def mk(name, **kw):
        return CrawlEngine(spark, str(tmp_path / name), images=images_df,
                           robots=robots_df, top_k=4, salts=4,
                           filter_cap_per_bucket=300,  # force >1 bucket
                           **kw)

    def keys(eng, attr):
        return sorted(r["url_key"] for r in
                      getattr(eng, attr).read(spark).select("url_key")
                      .collect())

    ref = mk("exact", use_bloom=False)
    ref.bootstrap(frontier_df, url_seen_df)
    ref.run(2)
    orphan = frontier_df.limit(6).select(
        "url_key", "host", F.lit(2).alias("first_seen_epoch"),
        (F.col("url_key") % 64).cast("int").alias("bucket"))
    eng = mk("store")
    eng.bootstrap(frontier_df, url_seen_df)
    eng.run(1)
    eng.url_seen_t.append(orphan, meta={"epoch": 2})
    dedup.store_apply_keys(spark, orphan.select("url_key"),
                           eng._filter_store_dir(), seq=2)
    resumed = mk("store")
    resumed.run(1)
    for attr in ("frontier_t", "url_seen_t", "fetched_t"):
        assert keys(resumed, attr) == keys(ref, attr), attr


def test_filter_probe_accepts_only_store(spark, tmp_path, images_df,
                                        robots_df):
    """The Bloom filter store is the only approximate URL-seen probe."""
    CrawlEngine(spark, str(tmp_path / "ok"), images=images_df,
                robots=robots_df, filter_probe="store", filter_kind="bloom")
    with pytest.raises(ValueError):
        CrawlEngine(spark, str(tmp_path / "bc"), images=images_df,
                    robots=robots_df, filter_probe="broadcast")
    with pytest.raises(ValueError):
        CrawlEngine(spark, str(tmp_path / "ck"), images=images_df,
                    robots=robots_df, filter_kind="cuckoo")


def test_camel_snake_roundtrip():
    assert TX.camel_to_snake("postImages") == "post_images"
    assert TX.camel_to_snake("HTTPResponseCode") == "http_response_code"
    assert TX.to_camel("post_images") == "postImages"


def test_metapost_link_factory_pluggable(spark):
    from scrapy_newsutils_spark.operators import metapost

    posts = fixtures.posts_batch(spark).where(F.col("post_id").isin(1, 2)) \
        .withColumn("siblings", F.when(F.col("post_id") == 1, F.array(
            F.struct(F.lit(2).cast("long").alias("post_id"),
                     F.lit(0.9).alias("score"))))
            .otherwise(F.array().cast("array<struct<post_id:long,score:double>>")))
    row = metapost.build_metaposts(
        posts,
        link_factory=lambda vh: F.concat(F.lit("app://meta?v="), vh),
    ).first()
    assert row["link"].startswith("app://meta?v=")


def test_store_mode_zero_driver_key_materialization(spark, tmp_path, frontier_df,
                                                    images_df, robots_df,
                                                    url_seen_df, monkeypatch):
    """The filter-store path: the whole epoch loop — filter build, probe,
    incremental insert — must never pull keys to the driver. Spy: any
    toPandas() during run_epoch fails the test (the round-2 loop pulled each
    epoch's new keys through toPandas to extend the driver-held filter)."""
    from pyspark.sql import DataFrame

    eng = CrawlEngine(spark, str(tmp_path / "nodriver"), images=images_df,
                      robots=robots_df, top_k=4, salts=4,
                      filter_cap_per_bucket=300)
    eng.bootstrap(frontier_df, url_seen_df)

    def banned(self, *a, **k):
        raise AssertionError("driver-side toPandas during store-mode epoch")

    monkeypatch.setattr(DataFrame, "toPandas", banned)
    res = eng.run(2)
    assert res[0].popped > 0 and res[0].fetched_ok > 0
    # the driver holds only metadata — no filter bytes
    assert eng._filter is not None
    assert not any(isinstance(v, np.ndarray)
                   for v in vars(eng._filter).values())


def test_store_mode_steady_state_never_scans_url_seen(spark, tmp_path,
                                                      frontier_df, images_df,
                                                      robots_df, url_seen_df,
                                                      monkeypatch):
    """VERDICT r3 #7: after the filter (re)build, store-mode epochs must
    not read the url_seen table at all — membership resolves entirely
    against the filter store's exact key segments. Spy: url_seen_t.read
    raises for epoch 2."""
    eng = CrawlEngine(spark, str(tmp_path / "noscan"), images=images_df,
                      robots=robots_df, top_k=4, salts=4,
                      filter_cap_per_bucket=300)
    eng.bootstrap(frontier_df, url_seen_df)
    r1 = eng.run_epoch()
    assert r1.fetched_ok > 0

    def banned(*a, **k):
        raise AssertionError("url_seen table scanned in steady-state epoch")

    monkeypatch.setattr(eng.url_seen_t, "read", banned)
    r2 = eng.run_epoch()
    assert r2.popped > 0


def test_store_mode_recovery_drops_orphan_segments(spark, tmp_path,
                                                   frontier_df, images_df,
                                                   robots_df, url_seen_df):
    """Crash between the url_seen commit (table + filter segments) and the
    epoch-closing frontier commit: resume must roll both back, or the
    orphan segment keys would probe as 'seen' and the replayed epoch would
    silently drop them (URL-seen membership divergence vs the reference)."""
    from scrapy_newsutils_spark.operators import dedup

    def mk(name):
        eng = CrawlEngine(spark, str(tmp_path / name), images=images_df,
                          robots=robots_df, top_k=4, salts=4,
                          filter_cap_per_bucket=300)
        eng.bootstrap(frontier_df, url_seen_df)
        return eng

    a = mk("a"); a.run(2)          # uninterrupted reference run

    b = mk("b"); b.run(1)
    # simulate a crash mid-epoch-2: url_seen committed (table AND exact
    # segments), frontier never closed the epoch
    orphan = frontier_df.limit(6).select(
        "url_key", "host", F.lit(2).alias("first_seen_epoch"),
        (F.col("url_key") % 64).cast("int").alias("bucket"))
    b.url_seen_t.append(orphan, meta={"epoch": 2})
    dedup.store_apply_keys(spark, orphan.select("url_key"),
                           str(tmp_path / "b" / "url_seen_filters"), seq=2)

    # in-process resume: the live filter survives (no rebuild), so ONLY
    # _recover's segment drop protects the replay from the orphan keys
    b.run(1)                       # replays epoch 2 from recovered state
    for attr in ("url_seen_t", "fetched_t"):
        ka = sorted(r["url_key"] for r in
                    getattr(a, attr).read(spark).select("url_key").collect())
        kb = sorted(r["url_key"] for r in
                    getattr(b, attr).read(spark).select("url_key").collect())
        assert ka == kb, attr
