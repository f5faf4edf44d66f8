"""Reference post-pipeline semantics: FilterDate, edit classification,
image gate, e-zines upsert (SURVEY §2.2/§2.3 — F1/F2, J2, F4/F5, K3/C8).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from scrapy_newsutils_spark import fixtures
from scrapy_newsutils_spark.operators import edits, ezines, image_gate, pipeline


@pytest.fixture(scope="module")
def posts_df(spark):
    return fixtures.posts_batch(spark).cache()


# -- F1/F2 -------------------------------------------------------------------

def test_parse_dates_range_union_list():
    got = pipeline.parse_dates("2024-03-01", "2024-03-03", ["2024-03-10"])
    assert [d.isoformat() for d in got] == [
        "2024-03-01", "2024-03-02", "2024-03-03", "2024-03-10"]


def test_parse_dates_default_today():
    today = dt.date(2024, 3, 5)
    assert pipeline.parse_dates(today=today) == [today]


def test_filter_valid_drops_null_publish_time(posts_df):
    out = pipeline.filter_valid(posts_df)
    assert out.where(F.col("publish_time").isNull()).count() == 0
    assert out.count() == posts_df.count() - 1  # exactly one null row in fixture


def test_filter_date_window(posts_df):
    days = pipeline.parse_dates("2024-03-01", "2024-03-05")
    out = pipeline.filter_date(pipeline.filter_valid(posts_df), days)
    # the out-of-window row (day0 - 40d) is dropped
    assert out.where(F.to_date("publish_time") < "2024-03-01").count() == 0
    got = {r[0] for r in out.select(F.to_date("publish_time")).distinct().collect()}
    assert got <= {dt.date.fromisoformat(d.isoformat()) for d in days}


def test_filter_metapost(posts_df):
    out = pipeline.filter_metapost(posts_df)
    assert out.where(F.col("type").startswith("metapost")).count() == 0
    assert pipeline.filter_metapost(posts_df, nlp_uses_meta=True).count() == posts_df.count()


# -- J2 edit classification ----------------------------------------------------

def _edit_fixture(spark, posts_df):
    existing = posts_df.where(F.col("post_id") < 40)
    pristine = existing.where(F.col("post_id") == 1).withColumn(
        "post_id", F.lit(1001).cast("long"))
    major = existing.where(F.col("post_id") == 2).withColumn(
        "post_id", F.lit(1002).cast("long")).withColumn(
        "text", F.concat(F.col("text"), F.lit(" EDITED MAJOR")))
    minor = existing.where(F.col("post_id") == 3).withColumn(
        "post_id", F.lit(1003).cast("long")).withColumn(
        "tags", F.array(F.lit("breaking")))
    nlp_only = existing.where(F.col("post_id") == 4).withColumn(
        "post_id", F.lit(1004).cast("long")).withColumn(
        "summary", F.lit("engine-written summary"))
    brand_new = existing.where(F.col("post_id") == 5).withColumn(
        "post_id", F.lit(1005).cast("long")).withColumn(
        "short_link", F.lit("/post/brand-new"))
    batch = pristine.unionByName(major).unionByName(minor).unionByName(
        nlp_only).unionByName(brand_new)
    return batch, existing


def test_classify_edits_four_way(spark, posts_df):
    batch, existing = _edit_fixture(spark, posts_df)
    got = {r["post_id"]: r["edit_status"]
           for r in edits.classify_edits(batch, existing).collect()}
    assert got[1001] == "pristine"
    assert got[1002] == "new_version"
    assert got[1003] == "minor"
    assert got[1004] == "pristine"   # nlp fields are excluded from compare
    assert got[1005] == "new"


def test_route_edits_versioning(spark, posts_df):
    batch, existing = _edit_fixture(spark, posts_df)
    routed = edits.route_edits(edits.classify_edits(batch, existing))
    rows = {r["short_link"]: r for r in routed.collect()}
    # pristine + nlp-only rows dropped
    assert len(rows) == 3
    major = rows["/post/2"]
    # v2 gets a VERSION-QUALIFIED deterministic id — the batch id derives
    # from the URL, so keeping it would collide with v1 in the post_id MERGE
    expected_v2_id = spark.range(1).select(
        F.xxhash64(F.lit("/post/2"), F.lit(2)).alias("h")).first()["h"]
    assert major["version"] == 2 and major["post_id"] == expected_v2_id
    minor = rows["/post/3"]
    assert minor["version"] == 1 and minor["post_id"] == 3     # adopted identity
    new = rows["/post/brand-new"]
    assert new["version"] == 1 and new["post_id"] == 1005


def test_classify_against_latest_version_only(spark, posts_df):
    """After a new_version insert the table holds v1 AND v2 of a
    short_link; the next edit must classify ONCE, against the latest
    version (not fan out per stored row)."""
    batch, existing = _edit_fixture(spark, posts_df)
    # second edit round: table now holds v1 + v2 of /post/2
    first = edits.route_edits(edits.classify_edits(batch, existing))
    table2 = existing.unionByName(
        first.where(F.col("short_link") == "/post/2").drop("edit_status"))
    assert table2.where(F.col("short_link") == "/post/2").count() == 2
    # 2a. resubmit the v2 text → pristine vs latest (would be new_version
    #     vs v1 if matched against the older row)
    again = batch.where(F.col("post_id") == 1002).withColumn(
        "post_id", F.lit(2002).cast("long"))
    got = edits.classify_edits(again, table2).collect()
    assert len(got) == 1 and got[0]["edit_status"] == "pristine"
    # 2b. a fresh edit → ONE new_version row, version = latest + 1 = 3
    third = again.withColumn(
        "text", F.concat(F.col("text"), F.lit(" AGAIN")))
    routed = edits.route_edits(edits.classify_edits(third, table2)).collect()
    assert len(routed) == 1
    assert routed[0]["edit_status"] == "new_version"
    assert routed[0]["version"] == 3


def test_route_then_upsert_roundtrip(spark, tmp_path, posts_df):
    """new_version inserts a second row for the same short_link; minor
    replaces in place — the reference's SaveToDb outcomes (pipelines.py:16-35)."""
    from scrapy_newsutils_spark import schemas
    from scrapy_newsutils_spark.sources.snapshot_table import SnapshotTable

    batch, existing = _edit_fixture(spark, posts_df)
    table = SnapshotTable(str(tmp_path / "posts"), schemas.POSTS)
    table.overwrite(spark.createDataFrame([], schemas.POSTS))
    day = F.to_date("publish_time")
    table.merge_upsert_partitioned(spark, existing, ["post_id"], day)
    routed = edits.route_edits(edits.classify_edits(batch, existing))
    table.merge_upsert_partitioned(
        spark, routed.select([f.name for f in schemas.POSTS.fields]),
        key_cols=["post_id"], part_expr=day)
    final = table.read(spark)
    assert final.where(F.col("short_link") == "/post/2").count() == 2  # v1 + v2
    v3 = final.where(F.col("short_link") == "/post/3")
    assert v3.count() == 1
    assert v3.first()["tags"] == ["breaking"]  # updated in place
    assert final.where(F.col("short_link") == "/post/brand-new").count() == 1


# -- F4/F5 image gate ----------------------------------------------------------

def test_image_gate_size_and_quality(spark, images_df):
    out = image_gate.gate_images(images_df).cache()
    rows = out.collect()
    assert all(r["w"] >= 300 and r["h"] >= 200 for r in rows)
    import math
    assert all(r["brisque"] <= 50.0 or math.isnan(r["brisque"]) for r in rows)
    # near-flat images (every 13th) must be gone even when large
    flat_large = images_df.where(
        (F.pmod(F.regexp_extract("image_id", r"(\d+)", 1).cast("long"), F.lit(13)) == 0)
        & image_gate.size_predicate()
    ).count()
    kept_ids = {r["image_id"] for r in rows}
    flat_kept = [r["image_id"] for r in images_df.collect()
                 if int(r["image_id"].split("-")[1]) % 13 == 0 and r["image_id"] in kept_ids]
    assert flat_large > 0 and not flat_kept


def test_image_gate_drops_undecodable(spark):
    df = spark.createDataFrame(
        [("bad-1", b"garbage", 400, 400, "png", "c", 0)],
        "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long",
    )
    assert image_gate.gate_images(df).count() == 0


# -- K3/C8 e-zines ---------------------------------------------------------------

def test_event_pk_deterministic(spark):
    df = fixtures.sport_events_table(spark, n=100)
    again = fixtures.sport_events_table(spark, n=100)
    assert sorted(r["event_pk"] for r in df.collect()) == \
           sorted(r["event_pk"] for r in again.collect())


def test_ezine_upsert_last_write_wins(spark):
    df = fixtures.sport_events_table(spark, n=200)
    # fixture injects ~5% duplicate compound keys
    assert df.count() > df.select("event_pk").distinct().count()
    deduped = ezines.dedupe_latest(df)
    assert deduped.count() == df.select("event_pk").distinct().count()


def test_ezine_fetch_plan_cross(spark):
    sports = spark.createDataFrame([("s1",), ("s2",)], ["sport_id"])
    leagues = spark.createDataFrame([("l1",), ("l2",), ("l3",)], ["league_id"])
    plan = ezines.fetch_plan(sports, leagues)
    assert plan.count() == 6
    assert plan.first()["endpoint"].startswith("eventsseason.php?id=")


def test_ezine_schedules_job_e2e(spark, tmp_path):
    """S7/K3/T6 end-to-end: the season fetch loop drains a 4-endpoint plan
    at the API's 1-req/60s budget (exactly one fetch per 60s epoch), events
    land in per-sport partitions under the deterministic compound-key pk,
    and replayed duplicate events resolve last-write-wins."""
    from scrapy_newsutils_spark import fixtures, schemas
    from scrapy_newsutils_spark.sources.snapshot_table import SnapshotTable

    table = SnapshotTable(str(tmp_path / "events"), schemas.SPORT_EVENTS)
    sports = spark.createDataFrame([("102",)], ["sport_id"])
    leagues = spark.createDataFrame(
        [("4328",), ("4335",), ("4346",), ("4387",)], ["league_id"])
    api = fixtures.ezine_api_table(spark)

    counts = ezines.run_schedules_job(spark, table, sports, leagues, api,
                                      season="2024-2025")
    # token bucket at crawl_delay=60000/budget=60000: ONE endpoint per epoch
    assert counts == [1, 1, 1, 1]

    stored = table.read(spark)
    assert stored.count() == 4 * 25                      # dups collapsed
    assert stored.select("event_pk").distinct().count() == 100
    # per-sport partition layout (K3: one collection per sport)
    assert set(table.partition_layout()) == {"soccer", "basketball"}
    # the duplicate rows (j%5==0) were corrections: later date + bumped score
    fixed = stored.where(F.col("idEvent") == "4328005").first()
    assert fixed["strStatus"] == "After Extra Time"
    # all 45 item fields present on stored rows
    assert len(stored.columns) == 46  # 45 SportEvent fields + event_pk


def test_ezine_schedules_job_is_idempotent(spark, tmp_path):
    from scrapy_newsutils_spark import fixtures, schemas
    from scrapy_newsutils_spark.sources.snapshot_table import SnapshotTable

    table = SnapshotTable(str(tmp_path / "events"), schemas.SPORT_EVENTS)
    sports = spark.createDataFrame([("102",)], ["sport_id"])
    leagues = spark.createDataFrame([("4328",), ("4387",)], ["league_id"])
    api = fixtures.ezine_api_table(spark)
    ezines.run_schedules_job(spark, table, sports, leagues, api, "2024-2025")
    n1 = table.read(spark).count()
    ezines.run_schedules_job(spark, table, sports, leagues, api, "2024-2025")
    assert table.read(spark).count() == n1


def test_event_pk_separator_no_collision(spark):
    """('12','T3') vs ('1','2T3') style compound keys must not collide: the
    key parts are joined with a unit separator, not raw-concatenated."""
    rows = [("12", "T3", "A", "E"), ("1", "2T3", "A", "E")]
    df = spark.createDataFrame(rows, "idLeague string, idHomeTeam string, "
                                     "idAwayTeam string, idEvent string")
    pks = [r["event_pk"] for r in ezines.event_pk(df).collect()]
    assert pks[0] != pks[1]


def test_dedupe_latest_tiebreak_deterministic(spark):
    """Two replays of a key with EQUAL dateEvent must pick a stable winner
    (total-order comparator) — not whichever partition arrives last."""
    import datetime as dt
    d = dt.date(2024, 8, 1)
    rows = [("L", "H", "A", "E", "2024-08-01T10:00:00", d),
            ("L", "H", "A", "E", "2024-08-01T12:00:00", d)]
    schema = ("idLeague string, idHomeTeam string, idAwayTeam string, "
              "idEvent string, strTimestamp string, dateEvent date")
    for attempt in range(3):
        df = spark.createDataFrame(rows if attempt % 2 == 0 else rows[::-1],
                                   schema).repartition(4)
        got = ezines.dedupe_latest(ezines.event_pk(df)).collect()
        assert len(got) == 1
        assert got[0]["strTimestamp"] == "2024-08-01T12:00:00"
