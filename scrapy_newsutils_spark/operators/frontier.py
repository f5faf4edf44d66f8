"""Frontier priority queue: per-host top-k pop with explicit skew handling.

The reference delegates request ordering to Scrapy's scheduler (FIFO per
priority). The engine's frontier is an OPIC-style priority table; one
scheduling epoch pops the top-k URLs per host ordered by
``(priority DESC, discovered_ts ASC, url_key ASC)`` — the deterministic
crawl ordering both the engine and the test oracle implement (SURVEY §7
"matching reference crawl ordering").

Skew: a hot host (2 hosts own ~40% of the fixture frontier; real crawls are
worse) would force one giant sort partition under a naive
``row_number() OVER (PARTITION BY host)``. We do a two-phase tree top-k:

  phase 1: partition by (host, salt = pmod(url_key, S)) → local top-k
           (S× smaller sort partitions, map-side)
  phase 2: global top-k per host over the ≤ S·k phase-1 survivors

Phase 2's input is bounded by S·k·|hosts| regardless of frontier size, so
the plan survives a 10^10-row frontier: the heavy data only ever sees the
salted (uniform) shuffle key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

def pop_order() -> list:
    """Deterministic crawl order: (priority DESC, discovered_ts ASC, url_key ASC)."""
    return [F.col("priority").desc(), F.col("discovered_ts").asc(), F.col("url_key").asc()]


NARROW_POP_MAX_K = 256
# broadcast hash relations cost ~10x serialized size in JVM objects; ~2M
# 16-byte winner rows ≈ 32 MB serialized ≈ a few hundred MB relation — the
# practical ceiling for a comfortable broadcast on 4-8 GB executors
NARROW_POP_MAX_WINNERS = 2_000_000
# below this many frontier rows the full-width shuffle is trivially cheap
# and the narrow plan's winner-broadcast join-back is pure overhead
# (measured at 5k rows / k=3: wide 0.19 s vs narrow 0.27 s)
NARROW_POP_MIN_ROWS = 10_000_000
# collapse the salt phase unless it filters rows-per-host by at least this
# factor: phase 1's payoff is a smaller per-host reduce input, but it costs
# a SECOND full shuffle — at rows/host ≤ 32·k·S the single-window
# WindowGroupLimit plan wins (measured at 250 rows/host, k=3, S=4:
# salted 0.28 s vs single-window 0.19 s)
SALT_COLLAPSE_FACTOR = 32
# priority-histogram resolution for the selection plan: survivor excess per
# host ≈ one bin's population (~n_h/B for spread priorities); 1024 keeps the
# (host, bin) partial-agg state trivial (|hosts|·B rows max in the shuffle)
POP_HIST_BINS = 1024


def pop_top_k_per_host(frontier: DataFrame, k: int, salts: int = 16,
                       n_hosts_hint: int | None = None,
                       n_rows_hint: int | None = None,
                       strategy: str | None = None,
                       priority_bounds: tuple[float, float] | None = None) -> DataFrame:
    """Top-k URLs per host by crawl order; returns frontier rows + ``pop_rank``.

    ``salts=1`` degenerates to the single-window plan (used by the oracle
    comparison); the default keeps every sort partition ~1/16 of a host.

    Spark ≥3.5 already runs a map-side partial top-k for rank-filtered
    windows (``WindowGroupLimitExec`` below the Exchange — verified in this
    build's plans), so the plain window is itself a tree top-k with ONE
    shuffle: per-host reduce input ≤ k · #map-partitions. The explicit salt
    phase pays a SECOND full shuffle to tighten that bound to k·S — worth
    it only when phase 1 actually filters, i.e. k·S < rows-per-host. With
    ``n_rows_hint`` (caller-maintained frontier size estimate; the epoch
    loop does the bookkeeping) the operator collapses to the single-window
    plan when k·S·|hosts| ≥ rows — at that shape phase 1 keeps every row
    and its shuffle is pure overhead (measured 2x pop cost at the bench's
    k=20000, 150k rows/host).

    Three physical strategies, auto-picked unless ``strategy`` forces one:

    - narrow: rank a (url_key, host, priority, ts) ≈ 40 B/row projection,
      broadcast the ≤ k·|hosts| winners back onto the base — one narrow
      shuffle + one base re-scan instead of shuffling ~200 B rows. At 10^10
      rows: a 400 GB shuffle instead of 2 TB. Chosen when k ≤
      NARROW_POP_MAX_K AND k·|hosts| ≤ NARROW_POP_MAX_WINNERS.
    - histogram (the big-k × big-input default): SELECTION instead of
      sort. A ranking plan sorts the whole input to find each host's k-th
      row — a full sort of the narrow projection, the memory-bandwidth-
      bound stage that capped 1→4-core scaling at ~0.77 in round-4 traces. This plan never sorts the input: (1) one narrow
      aggregate gets per-host (count, min, max) of priority; (2) one
      narrow ``groupBy(host, bin)`` count over a B-bin normalized priority
      histogram (map-side partial agg — the shuffle is ≤ |hosts|·B tiny
      rows regardless of input size); (3) the k-th row's BIN per host is
      read off the descending cumulative counts; (4) the full scan is
      gated on ``bin ≥ b*`` (a superset of the true top-k by
      construction: fewer than k rows lie in bins strictly above b*) and
      only the ~(k + one bin's population)·|hosts| survivors are
      window-ranked exactly. Shuffled bytes at 10^10 rows: two tiny agg
      shuffles + ~k·|hosts| full rows — no 400 GB narrow rank shuffle at
      all. Degenerate distributions (a host's priorities all equal → one
      bin) stay correct, they just re-rank that whole host.
    - wide: single full-width window — smallest constant factor for SMALL
      frontiers (≤ NARROW_POP_MIN_ROWS, where shuffle bytes don't matter).

    ``strategy``: force one of 'wide' | 'narrow' | 'histogram' (tests and
    plan audits); None auto-picks.

    ``n_hosts_hint``: caller-supplied approximate host count (the epoch
    loop caches one ``approx_count_distinct`` per engine). Without it and
    with k within bounds, a one-column approx-distinct scan decides — still
    cheaper than a wrong broadcast wedging the job.

    ``priority_bounds``: known a-priori (lo, hi) priority bounds — OPIC
    frontiers are [0, 1] by construction (cash shares capped at 1.0). Lets
    the histogram plan bin on a FIXED global grid and skip its per-host
    min/max pass: one fewer full scan of the input per pop. Hosts whose
    priorities occupy a narrow slice of the range just land in fewer bins —
    the superset gate stays correct, only looser (more survivors re-ranked
    exactly). Ignored by the other strategies.
    """
    small = n_rows_hint is not None and int(n_rows_hint) <= NARROW_POP_MIN_ROWS
    if strategy is None:
        if small:
            strategy = "wide"  # small frontier: bytes don't matter
        else:
            eligible = k <= NARROW_POP_MAX_K
            if eligible and n_hosts_hint is None:
                n_hosts_hint = frontier.agg(
                    F.approx_count_distinct("host").alias("n")).first()["n"]
            if eligible and k * max(int(n_hosts_hint), 1) \
                    <= NARROW_POP_MAX_WINNERS:
                strategy = "narrow"
            else:
                strategy = "histogram"
    if strategy not in ("wide", "narrow", "histogram"):
        raise ValueError(f"unknown pop strategy {strategy!r}")
    if strategy == "histogram":
        return _histogram_pop(frontier, k, priority_bounds)
    if (salts > 1 and n_rows_hint is not None and n_hosts_hint is not None
            and SALT_COLLAPSE_FACTOR * k * salts
            >= int(n_rows_hint) / max(int(n_hosts_hint), 1)):
        # phase 1 wouldn't filter enough to pay for its extra shuffle:
        # let the single-window WindowGroupLimit tree top-k do the work
        salts = 1
    if strategy == "narrow":
        base = frontier.select("url_key", "host", "priority", "discovered_ts")
    else:
        base = frontier
    if salts > 1:
        salted = base.withColumn(
            "_salt", F.pmod(F.col("url_key"), F.lit(salts)).cast("int")
        )
        w1 = Window.partitionBy("host", "_salt").orderBy(*pop_order())
        local = (
            salted.withColumn("_r1", F.row_number().over(w1))
            .where(F.col("_r1") <= k)
            .drop("_salt", "_r1")
        )
    else:
        local = base
    w2 = Window.partitionBy("host").orderBy(*pop_order())
    ranked = (
        local.withColumn("pop_rank", F.row_number().over(w2))
        .where(F.col("pop_rank") <= k)
    )
    if strategy == "wide":
        return ranked
    winners = ranked.select("url_key", "pop_rank")
    return frontier.join(F.broadcast(winners), "url_key")


def _histogram_pop(frontier: DataFrame, k: int,
                   priority_bounds: tuple[float, float] | None = None) -> DataFrame:
    """Selection-plan top-k per host (see pop_top_k_per_host docstring).

    Correctness invariant: b* is the k-th-from-top row's bin (the largest
    bin whose top-down cumulative count reaches k), so bins strictly above
    b* hold < k rows — every true top-k row has bin ≥ b* and survives the
    gate; the exact window rank then trims ties and bin-mates. Hosts with
    < k rows never cross the cumulative and keep everything (b* null).
    Priority NaNs/nulls are not expected in the frontier schema (priority
    is NOT NULL); min==max degenerates to bin 0 for the whole host, which
    is correct (all rows survive, exact rank decides).

    With ``priority_bounds`` the bin grid is fixed a priori and the
    per-host min/max pass disappears — two scans of the input total
    (histogram + gated re-rank) instead of three."""
    B = POP_HIST_BINS
    p = F.col("priority")
    if priority_bounds is not None:
        lo, hi = float(priority_bounds[0]), float(priority_bounds[1])
        span_g = hi - lo
        if span_g <= 0:
            raise ValueError("priority_bounds must satisfy lo < hi")
        bin_expr = F.least(
            F.greatest(F.floor((p - F.lit(lo)) / F.lit(span_g) * B),
                       F.lit(0)),
            F.lit(B - 1)).cast("int")
        hist = (
            frontier.select("host", "priority")
            .withColumn("_bin", bin_expr)
            .groupBy("host", "_bin").agg(F.count(F.lit(1)).alias("_c"))
        )
    else:
        stats = frontier.groupBy("host").agg(
            F.min(p).alias("_pmin"), F.max(p).alias("_pmax"))
        span = F.col("_pmax") - F.col("_pmin")
        bin_expr = (
            F.when(span <= 0, F.lit(0))
            .otherwise(F.least(F.floor((p - F.col("_pmin")) / span * B),
                               F.lit(B - 1)))
            .cast("int")
        )
        hist = (
            frontier.select("url_key", "host", "priority")
            .join(F.broadcast(stats), "host")
            .withColumn("_bin", bin_expr)
            .groupBy("host", "_bin").agg(F.count(F.lit(1)).alias("_c"))
        )
    wcum = Window.partitionBy("host").orderBy(F.col("_bin").desc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bstar = (
        hist.withColumn("_cum", F.sum("_c").over(wcum))
        .where(F.col("_cum") >= k)
        .groupBy("host").agg(F.max("_bin").alias("_bstar"))
    )
    if priority_bounds is not None:
        gate = bstar
    else:
        gate = stats.join(bstar, "host", "left")
    surv = (
        frontier.join(F.broadcast(gate), "host", "left")
        .where(F.col("_bstar").isNull() | (bin_expr >= F.col("_bstar")))
        .drop("_pmin", "_pmax", "_bstar")
    )
    w2 = Window.partitionBy("host").orderBy(*pop_order())
    return (
        surv.withColumn("pop_rank", F.row_number().over(w2))
        .where(F.col("pop_rank") <= k)
    )
