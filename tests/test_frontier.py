"""Frontier priority pop: salted tree top-k == single-window top-k (W-rank).

Deterministic crawl order is (priority DESC, discovered_ts ASC, url_key ASC)
per host — the oracle ordering defined in SURVEY §7 to replace Scrapy's
concurrency-dependent scheduler ordering.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from scrapy_newsutils_spark.operators import frontier as fr


def _popped_set(df):
    return {(r["host"], r["url_key"], r["pop_rank"]) for r in
            df.select("host", "url_key", "pop_rank").collect()}


def test_salted_equals_unsalted(frontier_df):
    a = _popped_set(fr.pop_top_k_per_host(frontier_df, k=5, salts=1))
    b = _popped_set(fr.pop_top_k_per_host(frontier_df, k=5, salts=16))
    assert a == b


def test_salt_collapse_hint_equals_salted(frontier_df):
    """With a row hint showing phase 1 would be filterless (k·S·hosts ≥
    rows), the pop collapses to the single-window plan (WindowGroupLimit
    does the map-side tree top-k) — output identical either way."""
    n = frontier_df.count()
    collapsed = fr.pop_top_k_per_host(frontier_df, k=50, salts=16,
                                      n_hosts_hint=20, n_rows_hint=n)
    salted = fr.pop_top_k_per_host(frontier_df, k=50, salts=16,
                                   n_hosts_hint=20, n_rows_hint=10 ** 9)
    assert _popped_set(collapsed) == _popped_set(salted)


def test_pop_respects_order(frontier_df):
    popped = fr.pop_top_k_per_host(frontier_df, k=3, salts=8)
    rows = popped.select("host", "priority", "discovered_ts", "url_key", "pop_rank").collect()
    by_host: dict[str, list] = {}
    for r in rows:
        by_host.setdefault(r["host"], []).append(r)
    for host, rs in by_host.items():
        rs.sort(key=lambda r: r["pop_rank"])
        keys = [(-r["priority"], r["discovered_ts"], r["url_key"]) for r in rs]
        assert keys == sorted(keys), host
        assert len(rs) <= 3


def test_seed_urls_pop_first(frontier_df):
    """Seeds carry priority 1.0 → rank 1 of every host is its seed."""
    popped = fr.pop_top_k_per_host(frontier_df, k=1, salts=8)
    low = popped.where(F.col("priority") < 1.0).count()
    assert low == 0


def test_pop_strategies_equal_wide(spark, frontier_df):
    """Every physical pop strategy (wide / narrow / histogram, plus the
    auto pick under big hints) must produce exactly the same rows+ranks —
    including hosts with fewer than k rows (no gate row → keep all)."""
    from scrapy_newsutils_spark.operators import frontier as fops

    def keys(df):
        return {(r["url_key"], r["pop_rank"]) for r in
                df.select("url_key", "pop_rank").collect()}

    wide = fops.pop_top_k_per_host(frontier_df, 5, salts=4, strategy="wide")
    a = keys(wide)
    assert len(a) > 0
    for strat in ("narrow", "histogram"):
        got = fops.pop_top_k_per_host(frontier_df, 5, salts=4,
                                      strategy=strat)
        assert keys(got) == a, strat
        assert set(got.columns) == set(frontier_df.columns) | {"pop_rank"}
    # big hints auto-pick the selection plan: winners 5*1e6 > broadcast
    # cap, rows hint > NARROW_POP_MIN_ROWS (gates only; data = fixture)
    auto = fops.pop_top_k_per_host(frontier_df, 5, salts=4,
                                   n_hosts_hint=1_000_000,
                                   n_rows_hint=fops.NARROW_POP_MIN_ROWS + 1)
    assert keys(auto) == a
    # the auto pick for frontiers over NARROW_POP_MIN_ROWS with few winners
    narrow = fops.pop_top_k_per_host(frontier_df, 5, salts=4,
                                     n_hosts_hint=20,
                                     n_rows_hint=fops.NARROW_POP_MIN_ROWS + 1)
    assert keys(narrow) == a


def test_histogram_pop_degenerate_and_tied_priorities(spark, frontier_df):
    """Histogram selection edge cases: a host whose priorities are ALL
    equal (span 0 → single bin → whole host survives the gate, exact rank
    decides) and k-th-boundary priority ties must match the wide plan."""
    from pyspark.sql import functions as F

    from scrapy_newsutils_spark.operators import frontier as fops

    flat = frontier_df.withColumn(
        "priority",
        F.when(F.col("host") == "hot1.example.com", F.lit(0.5))
        .otherwise(F.round(F.col("priority") * 4) / 4))  # heavy tie bands
    wide = fops.pop_top_k_per_host(flat, 7, salts=4, strategy="wide")
    hist = fops.pop_top_k_per_host(flat, 7, salts=4, strategy="histogram")
    a = {(r["url_key"], r["pop_rank"]) for r in
         wide.select("url_key", "pop_rank").collect()}
    b = {(r["url_key"], r["pop_rank"]) for r in
         hist.select("url_key", "pop_rank").collect()}
    assert a == b and len(a) > 0


def test_histogram_fixed_grid_bounds_equals_wide(spark, frontier_df):
    """priority_bounds=(0,1) (the OPIC invariant the epoch loop passes)
    switches the histogram plan to a fixed global bin grid — one fewer
    input scan — and must stay row+rank identical to the wide plan,
    including degenerate hosts (all priorities equal → one global bin →
    whole host survives, exact rank decides) and tie bands straddling the
    k-th boundary."""
    from pyspark.sql import functions as F

    from scrapy_newsutils_spark.operators import frontier as fops

    def keys(df):
        return {(r["url_key"], r["pop_rank"]) for r in
                df.select("url_key", "pop_rank").collect()}

    flat = frontier_df.withColumn(
        "priority",
        F.when(F.col("host") == "hot1.example.com", F.lit(0.5))
        .otherwise(F.round(F.col("priority") * 4) / 4))
    for df in (frontier_df, flat):
        wide = fops.pop_top_k_per_host(df, 7, salts=4, strategy="wide")
        grid = fops.pop_top_k_per_host(df, 7, salts=4, strategy="histogram",
                                       priority_bounds=(0.0, 1.0))
        a, b = keys(wide), keys(grid)
        assert a == b and len(a) > 0
        assert set(grid.columns) == set(df.columns) | {"pop_rank"}
