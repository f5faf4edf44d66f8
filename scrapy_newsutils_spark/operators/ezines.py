"""E-zine (sports API) path: deterministic ids + per-sport upsert (S7/K3/J8/C8).

Reference semantics (/root/reference/src/newsutils/ezines/thesportsdb.py):
- `_id` derived deterministically from the compound key
  (idLeague, idHomeTeam, idAwayTeam, idEvent) — :691-695 (C8);
- sport × league nested loop drives rate-limited fetches — :770-780 (J8)
  at 1 request / 60 s — :698-699 (T6, shared with the crawl politeness
  machinery: a 60000 ms crawl_delay row);
- upsert per sport collection (`update_one(..., upsert=True)`) — :782-810.

Engine: the compound key becomes xxhash64(concat_ws(...)); the nested loop
becomes a crossJoin of two tiny dims feeding the politeness-scheduled fetch
stage; the sink is merge_upsert_partitioned on event_pk, partitioned by
strSport.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

COMPOUND_KEY = ("idLeague", "idHomeTeam", "idAwayTeam", "idEvent")


# unit separator: keys like ('12','T3') and ('1','2T3') must not
# concatenate identically — a pk collision would silently last-write-wins-
# merge two different events in the 45-field upsert sink
KEY_SEP = "\u001f"


def event_pk(df: DataFrame) -> DataFrame:
    """C8: deterministic 64-bit id from the 4-part compound key."""
    return df.withColumn("event_pk",
                         F.xxhash64(F.concat_ws(KEY_SEP, *COMPOUND_KEY)))


def dedupe_latest(df: DataFrame, order_col: str = "dateEvent") -> DataFrame:
    """Batch-internal upsert semantics: for duplicate compound keys the last
    write wins (the reference replays update_one per row in fetch order; a
    set-wise batch keeps the max-order row per key).

    The comparator is a TOTAL order — (order_col, every other column sorted
    by name) — so two replays with an equal ``order_col`` pick a stable
    winner on any partitioning/replay (a bare max_by(dateEvent) left the
    tie to partition order)."""
    others = sorted(c for c in df.columns if c not in ("event_pk", order_col))
    ordk = F.struct(F.col(order_col), *[F.col(c) for c in others])
    return (
        df.groupBy("event_pk")
        .agg(F.max_by(F.struct([c for c in df.columns if c != "event_pk"]),
                      ordk).alias("_r"))
        .select("event_pk", "_r.*")
    )


def fetch_plan(sports: DataFrame, leagues: DataFrame) -> DataFrame:
    """J8: the sport×league fan-out as a crossJoin of tiny dims. Each row is
    one API call for the politeness-scheduled fetch stage (the reference's
    nested for-loop, thesportsdb.py:770-780)."""
    return sports.crossJoin(leagues).select(
        "sport_id", "league_id",
        F.concat_ws("", F.lit("eventsseason.php?id="), F.col("league_id")).alias("endpoint"),
    )


API_HOST = "api.sports.example"


def season_plan(sports: DataFrame, leagues: DataFrame, season: str) -> DataFrame:
    """``fetch_plan`` rows shaped for the politeness gate: full request URL
    on the single API host, season param appended
    (thesportsdb.py:766-776 ``fetch(LEAGUE_SEASON_EVENTS, id=…, s=season)``)."""
    plan = fetch_plan(sports, leagues).withColumn(
        "endpoint", F.concat(F.col("endpoint"), F.lit(f"&s={season}")))
    return plan.select(
        "sport_id", "league_id", "endpoint",
        F.concat(F.lit(f"https://{API_HOST}/v1/json/2/"), F.col("endpoint")).alias("url"),
        F.lit(API_HOST).alias("host"),
    )


def season_events(api: DataFrame, taken_plan: DataFrame,
                  season: str) -> DataFrame:
    """One epoch's API 'responses': the synthetic season table joined to the
    endpoints fetched this epoch (production swaps this broadcast join for
    an HTTP call inside mapInPandas — the same payload-join pattern as the
    image fetch stage). Emits SPORT_EVENTS rows: deterministic pk + batch-
    internal last-write-wins."""
    from .. import schemas

    keys = taken_plan.select(F.col("league_id").alias("idLeague")).distinct()
    events = api.where(F.col("strSeason") == season).join(
        F.broadcast(keys), "idLeague")
    rows = event_pk(events).select(
        [f.name for f in schemas.SPORT_EVENTS.fields])
    return dedupe_latest(rows)


def run_schedules_job(spark, table, sports: DataFrame, leagues: DataFrame,
                      api: DataFrame, season: str,
                      epoch_budget_ms: int = 60_000,
                      max_epochs: int = 64) -> list[int]:
    """``SchedulesMixin.save_all`` (thesportsdb.py:758-812) as politeness-
    gated epochs over the season plan:

    - the API host carries ``crawl_delay_ms = 60000`` — the reference's
      ``@limits(calls=1, period=60 s)`` (:698-699) — so with a 60 s epoch
      budget the token bucket admits exactly ONE request per epoch; the
      rest defer and the loop runs until the plan drains (T6 end-to-end
      through the same ``with_politeness`` gate the crawler uses);
    - each epoch's events upsert into per-sport partitions on the
      deterministic compound-key pk (K3: ``update_one(upsert=True)`` into
      the collection named by strSport, :782-810).

    Returns the per-epoch fetched-endpoint counts.
    """
    from .. import schemas
    from . import politeness

    robots = spark.createDataFrame(
        [(API_HOST, 60_000, [], 1)], schemas.ROBOTS)
    plan = season_plan(sports, leagues, season)
    # the plan is a tiny dim (|sports|x|leagues|): materialize it ONCE and
    # track the undrained remainder as a driver list — the round-2 loop
    # grew a literal isin(done) predicate and re-counted the plan every
    # epoch, O(n^2) plan size/work for large fan-outs at 1 fetch/epoch
    plan_rows = plan.collect()
    remaining_rows = plan_rows
    counts: list[int] = []
    for _ in range(max_epochs):
        if not remaining_rows:
            break
        remaining = spark.createDataFrame(remaining_rows, plan.schema)
        w = Window.partitionBy("host").orderBy("sport_id", "league_id")
        ranked = remaining.withColumn("pop_rank", F.row_number().over(w))
        polite = politeness.with_politeness(ranked, robots, epoch_budget_ms)
        take = polite.where(F.col("polite_status") == "ok")
        taken_rows = take.collect()  # tiny: at most the epoch's admissions
        if not taken_rows:
            break
        batch = season_events(api, take, season)
        table.merge_upsert_partitioned(
            spark, batch, key_cols=["event_pk"],
            part_expr=F.lower(F.col("strSport")))
        taken_eps = {r["endpoint"] for r in taken_rows}
        remaining_rows = [r for r in remaining_rows
                          if r["endpoint"] not in taken_eps]
        counts.append(len(taken_rows))
    return counts
