"""URL-seen dedup: partitioned Bloom filter store + exact key segments (J1).

Reference semantics (/root/reference/src/newsutils/pipelines.py:74-95): a
per-day in-memory ``set`` of short_links, lazily hydrated from the sink —
unseen URLs pass through and join the set; seen URLs take the edit-
classification slow path (operators/edits.py).

At 10^10-URL scale the seen set cannot be a set — the engine keeps it as a
bucketed state table and runs membership as a two-phase filter:

  fast path: a Bloom filter built from the seen keys rejects the
  overwhelmingly-common definitely-new URLs without shuffling the state
  table. Spark 4 does not expose ``bloom_filter_agg`` to SQL, so filters
  are built distributed (numpy, vectorized splitmix64 mixing). The filter
  state is PARTITIONED by ``bucket = pmod(url_key, P)`` and lives in a
  ``FilterStore`` directory: ``build_partitioned`` builds every bucket's
  table executor-side from only its keys (one narrow shuffle; the driver
  never sees a key or a filter byte), each individually capped so capacity
  scales by adding buckets instead of degrading fpp — no single bitmap
  ever exceeds ~32 MB. ``tag_by_filter_store`` probes by repartitioning
  the batch on bucket so each task lazily loads only its own buckets'
  files — executor memory bounded by buckets-per-task at any seen-set
  size (the 10^10 path the north rule names).

  slow path: only the filter's *maybe-hits* (|batch|·fpp + true dupes) are
  resolved exactly, by mmap'd searchsorted against the store's sorted
  per-bucket key segments. Bloom has no false negatives, so the two-phase
  result equals the plain LEFT ANTI join ``exact_new_urls`` (tested in
  tests/test_dedup.py and, engine-wide, tests/test_invariants.py).

A store's ``filter_meta.json``, written only through
``FilterStore.write_meta``, is the one record of its layout, per-bucket
counters and design capacities, kind and source stamp; the driver keeps no
copy. ``TableFilter`` is the one lifecycle of a store kept in step with a
table: reload when the stamp matches the table, build, extend, stamp,
invalidate and drop a crashed epoch's orphan segments. The crawl engine
holds two: url_seen and frontier membership.

Bloom cannot delete, so a recrawl-TTL expiry invalidates the store and the
owner rebuilds it from the shrunk table (``CrawlEngine.expire_seen``): one
O(table) build per expiry. Measured against a segments-only probe, the
filter pays for itself at every bucket size tried (0.1M-25M keys).
"""

from __future__ import annotations

import json
import math
import os
import uuid
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def exact_new_urls(batch: DataFrame, seen: DataFrame, key: str = "url_key") -> DataFrame:
    """Plain LEFT ANTI membership (the correctness definition)."""
    return batch.join(seen.select(key), key, "left_anti")


# ---------------------------------------------------------------------------
# numpy Bloom filter (vectorized; identical mixing on build + probe)

def _mix64(x: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 finalizer — a well-distributed 64-bit mixer, vectorizes
    to a handful of numpy ops per batch."""
    gamma = np.uint64(((seed + 1) * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
    z = x.astype(np.uint64) + gamma
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


class PyBloom:
    """Fixed-size Bloom filter over int64 keys, numpy-vectorized."""

    def __init__(self, n_items: int, fpp: float = 0.01):
        n_items = max(n_items, 16)
        m = int(-n_items * math.log(fpp) / (math.log(2) ** 2))
        self.m = 1 << max(m - 1, 64).bit_length()  # pow2 → mask instead of mod
        self.k = max(1, round(self.m / n_items * math.log(2)))
        self.bits = np.zeros(self.m // 8, dtype=np.uint8)

    def _positions(self, keys: np.ndarray, seed: int) -> np.ndarray:
        return (_mix64(keys.view(np.uint64), seed) & np.uint64(self.m - 1)).astype(np.int64)

    def add_many(self, keys: np.ndarray) -> None:
        for s in range(self.k):
            pos = self._positions(keys, s)
            np.bitwise_or.at(self.bits, pos >> 3, (1 << (pos & 7)).astype(np.uint8))

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        out = np.ones(len(keys), dtype=bool)
        for s in range(self.k):
            pos = self._positions(keys, s)
            out &= (self.bits[pos >> 3] >> (pos & 7) & 1).astype(bool)
        return out


# ---------------------------------------------------------------------------
# bucketed (partitioned) filters — the 10^10-key scale path

# design capacity of a bucket that first receives keys through an
# incremental insert (store_apply_keys) rather than the bulk build
NEW_BUCKET_ITEMS = 65_536

# the one filter kind; stamped into every store's meta so a resumed engine
# rebuilds, instead of reloading, a store written with another kind
FILTER_KIND = "bloom"


def overfilled(meta: dict) -> bool:
    """Any bucket of a store's meta past its own design capacity (fpp
    degraded): the owner rebuilds from the table with more buckets."""
    cap = meta.get("capacity", {})
    return any(n > cap.get(bv, NEW_BUCKET_ITEMS)
               for bv, n in meta.get("inserted", {}).items())


def pick_buckets(expected: int, cap_per_bucket: int = 25_000_000) -> int:
    """Bucket count so no per-bucket filter exceeds cap_per_bucket keys
    (with 2x headroom for incremental epoch inserts)."""
    return max(1, int(math.ceil(2 * max(expected, 1) / cap_per_bucket)))


def build_partitioned(seen: DataFrame, store_path: str, key: str = "url_key",
                      expected: int | None = None,
                      buckets: int | None = None,
                      cap_per_bucket: int = 25_000_000,
                      fpp: float = 0.01,
                      source_version: int | None = None) -> dict | None:
    """Distributed build of a FilterStore at ``store_path``: repartition the
    seen keys by ``pmod(key, P)`` (one narrow ~16 B/row shuffle, UNCAPPED —
    one partition per bucket so per-task memory is bounded by
    cap_per_bucket regardless of P), build every bucket's filter
    executor-side inside ``mapInArrow`` — keys stream through as Arrow
    batches and accumulate as per-bucket numpy chunks (8 B/key, never boxed
    Python ints; the round-2 build buffered rows in ``defaultdict(list)`` at
    ~28 B/key and capped the shuffle at 256 partitions, which OOMs at the
    10^10-key north-rule extreme: 800 buckets / 256 tasks ≈ 78M boxed ints
    per task).

    Each task writes its buckets' ``.npz`` filter files and exact key
    segments straight into the store and ships only a tiny manifest row —
    the driver never holds filter bytes (800 buckets x 32 MB would be
    ~25 GB of driver heap at 10^10 keys). The driver folds the manifest
    into the store's meta and returns it: layout, per-bucket insert counts
    and design capacities, kind, ``source_version`` when given, and
    ``build_rss_mb``, the largest build task's peak RSS, so tests can
    assert the fixed per-task memory budget directly.
    """
    if expected is None:
        expected = seen.count()
    if expected == 0:
        return None
    if buckets is None:
        buckets = pick_buckets(expected, cap_per_bucket)
    P, f_fpp = int(buckets), fpp
    s_path = store_path

    # 2x headroom over the even-split load for incremental epoch inserts
    exp_per_bucket = max(2 * expected // P, 1024)

    # range-partition on the bucket id: b is exactly 0..P-1, so P range
    # partitions put ~one bucket per task (hash partitioning would collide
    # O(log P) buckets into one task — several GB at cap_per_bucket)
    keyed = seen.select(
        F.col(key).cast("long").alias("k"),
        F.pmod(F.col(key), F.lit(P)).cast("int").alias("b"),
    ).repartitionByRange(P, "b")

    out_schema = T.StructType([
        T.StructField("bv", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("rss_mb", T.DoubleType()),
    ])

    def part_build(batches):
        import resource

        import pyarrow as pa

        # bucket -> list of int64 chunks. Chunks are compact numpy copies
        # (copy() releases the backing Arrow buffer when the batch is
        # dropped) — peak extra memory per task ≈ 8 B/key + one transient
        # concatenate, bounded by cap_per_bucket per bucket.
        chunks: dict[int, list[np.ndarray]] = {}
        for rb in batches:
            ks = rb.column(0).to_numpy(zero_copy_only=False)
            bs = rb.column(1).to_numpy(zero_copy_only=False)
            order = np.argsort(bs, kind="stable")
            ks_s, bs_s = ks[order], bs[order]
            uniq, starts = np.unique(bs_s, return_index=True)
            bounds = np.append(starts, len(bs_s))
            for i, bv in enumerate(uniq):
                sl = ks_s[bounds[i]:bounds[i + 1]].astype(np.int64, copy=True)
                chunks.setdefault(int(bv), []).append(sl)

        st = FilterStore(s_path)
        for bv, parts in chunks.items():
            arr = parts[0] if len(parts) == 1 else np.concatenate(parts)
            parts.clear()
            f = PyBloom(max(len(arr) * 2, exp_per_bucket), f_fpp)
            f.add_many(arr)
            st.save_bucket(bv, f)
            # exact key segment 0 (committed-state snapshot) — the store
            # probe resolves filter maybes against these instead of
            # re-scanning the url_seen table every epoch
            st.save_key_segment(bv, 0, arr)
            rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            yield pa.RecordBatch.from_pydict(
                {"bv": [bv], "n": [len(arr)], "rss_mb": [rss]},
                schema=pa.schema([pa.field("bv", pa.int32()),
                                  pa.field("n", pa.int64()),
                                  pa.field("rss_mb", pa.float64())]))

    rows = keyed.mapInArrow(part_build, out_schema).collect()
    meta = {"buckets": P, "kind": FILTER_KIND,
            "inserted": {str(r["bv"]): int(r["n"]) for r in rows},
            "capacity": {str(r["bv"]): max(2 * int(r["n"]), exp_per_bucket)
                         for r in rows},
            "build_rss_mb": max((float(r["rss_mb"]) for r in rows),
                                default=0.0)}
    FilterStore(s_path).write_meta(_stamped(meta, source_version))
    return meta


def _stamped(meta: dict, version: int | None) -> dict:
    """``meta`` with its source stamp set to ``version`` (None: removed)."""
    meta.pop("source_version", None)
    if version is not None:
        meta["source_version"] = int(version)
    return meta


def merge_sorted_unique(segs: list, chunk: int = 4_000_000) -> np.ndarray:
    """K-way merge of sorted-unique int64 arrays into one sorted-unique
    array, with bounded working memory: inputs stay mmap'd (compaction
    round-4 ``np.load``-ed all 16 segments of a bucket resident —
    ~3× bucket bytes peak at 25M-key buckets, GB-scale per task — ADVICE
    r4 #7), and each round materializes only the rows at or below a
    boundary key taken ``chunk`` ahead per segment. Peak = the output
    (unavoidable: np.save needs one contiguous array) + O(k·chunk)
    transient — ~1× merged bytes instead of ~3×."""
    segs = [s for s in segs if len(s)]
    if not segs:
        return np.empty(0, dtype=np.int64)
    total = sum(len(s) for s in segs)
    out = np.empty(total, dtype=np.int64)  # upper bound (pre-dedup)
    pos = [0] * len(segs)
    n = 0
    while True:
        active = [i for i in range(len(segs)) if pos[i] < len(segs[i])]
        if not active:
            break
        # boundary = min over active segments of the key `chunk` ahead —
        # every element ≤ boundary across ALL segments is mergeable now
        bound = min(segs[i][min(pos[i] + chunk, len(segs[i])) - 1]
                    for i in active)
        pieces = []
        for i in active:
            s = segs[i]
            hi = int(np.searchsorted(s, bound, side="right"))
            hi = max(hi, pos[i])
            if hi > pos[i]:
                pieces.append(np.asarray(s[pos[i]:hi], dtype=np.int64))
                pos[i] = hi
        if not pieces:  # defensive: boundary below every cursor
            break
        m = np.unique(np.concatenate(pieces))
        if n and m.size and out[n - 1] == m[0]:  # dedup across rounds
            m = m[1:]
        out[n:n + m.size] = m
        n += m.size
    return out[:n]


class FilterStore:
    """Per-bucket filter persistence: one ``.npz`` per bucket plus a JSON
    meta file under a directory (shared storage on a real cluster: HDFS/S3
    fuse mount). The point at 10^10 keys: the total filter state (~12 GB at
    10 bits/key) must never be broadcast whole — a probe task repartitioned
    on ``pmod(key, P)`` loads ONLY its own buckets' files, so executor
    memory is bounded by buckets-per-task, not by the seen-set size."""

    def __init__(self, path: str):
        self.path = path
        os.makedirs(path, exist_ok=True)

    def _meta_path(self) -> str:
        return os.path.join(self.path, "filter_meta.json")

    def _bucket_path(self, bv: int) -> str:
        return os.path.join(self.path, f"bucket-{bv:06d}.npz")

    def save_bucket(self, bv: int, f: PyBloom) -> None:
        """Persist one bucket's Bloom filter (called executor-side by
        ``build_partitioned`` and ``store_apply_keys`` so filter bytes
        never transit the driver). tmp+rename so a crash mid-write never
        leaves a torn bucket file."""
        path = self._bucket_path(bv)
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}.npz"
        np.savez(tmp, bits=f.bits, k=np.array(f.k))
        # np.savez appends .npz when missing; our tmp already ends in it
        os.replace(tmp, path)

    # -- exact key segments ---------------------------------------------------
    # Alongside each bucket's approximate filter, the store can keep the
    # bucket's EXACT keys as sorted int64 .npy segments, one per insert
    # batch (LSM-style). A probe then resolves the filter's maybes with
    # mmap'd searchsorted — O(log n) page touches per key — instead of an
    # anti-join against the full url_seen table: the table scan that made
    # the round-3 epoch loop O(seen) per epoch at 10^10 keys. Segments are
    # stamped with the writer's epoch so crash recovery can drop exactly
    # the orphan batches (the filter files mutate in place and are NOT
    # rolled back — extra keys there are false positives the exact
    # segments then reject, never false negatives).

    SEG_COMPACT_N = 16  # merge a bucket's segments when they exceed this

    def _seg_path(self, bv: int, seq: int) -> str:
        return os.path.join(self.path, f"bucket-{bv:06d}.keys-{seq:08d}.npy")

    def seg_paths(self, bv: int) -> list[str]:
        pre = f"bucket-{bv:06d}.keys-"
        return sorted(
            os.path.join(self.path, n) for n in os.listdir(self.path)
            if n.startswith(pre) and n.endswith(".npy"))

    def save_key_segment(self, bv: int, seq: int, arr: "np.ndarray",
                         presorted: bool = False) -> None:
        """Write one sorted-unique key segment (tmp+rename). A same-(bv,
        seq) replay overwrites with identical content — idempotent.
        ``presorted=True`` (the compaction call, whose input is
        merge_sorted_unique output) skips the np.unique re-sort+copy, so
        compaction peaks at ~1× merged bytes as documented (ADVICE r5)."""
        path = self._seg_path(bv, seq)
        tmp = path + f".tmp-{uuid.uuid4().hex[:8]}.npy"
        a = np.asarray(arr, dtype=np.int64)
        np.save(tmp, a if presorted else np.unique(a))
        os.replace(tmp, path)

    def contains_exact(self, bv: int, keys: "np.ndarray") -> "np.ndarray":
        """Exact membership of ``keys`` in bucket ``bv``'s segments.
        Segments load as mmaps: searchsorted touches O(log n) pages per
        key, so probing a handful of maybes never reads whole segments."""
        found = np.zeros(len(keys), dtype=bool)
        for p in self.seg_paths(bv):
            seg = np.load(p, mmap_mode="r")
            if len(seg) == 0:
                continue
            idx = np.searchsorted(seg, keys)
            ok = idx < len(seg)
            found[ok] |= seg[idx[ok]] == keys[ok]
        return found

    def apply_key_segment(self, bv: int, seq: int, arr: "np.ndarray") -> None:
        """Insert a batch of keys for one bucket as a new segment, first
        compacting when the bucket has too many. Compaction merges every
        PRE-EXISTING segment into one stamped with their max seq — all of
        which belong to closed epochs, so recovery (which only drops the
        crashed epoch's seq) never undoes a compaction."""
        old = self.seg_paths(bv)
        if len(old) >= self.SEG_COMPACT_N:
            merged = merge_sorted_unique([np.load(p, mmap_mode="r")
                                          for p in old])
            max_seq = max(int(p.rsplit("keys-", 1)[1][:-4]) for p in old)
            self.save_key_segment(bv, max_seq, merged, presorted=True)
            for p in old:
                if p != self._seg_path(bv, max_seq):
                    os.remove(p)
        self.save_key_segment(bv, seq, arr)

    def drop_segments_from(self, seq: int) -> int:
        """Crash recovery: remove every bucket's segments stamped >= seq
        (the crashed epoch's orphan inserts). Returns #files dropped."""
        n = 0
        for name in list(os.listdir(self.path)):
            if ".keys-" in name and name.endswith(".npy"):
                s = int(name.rsplit("keys-", 1)[1][:-4])
                if s >= seq:
                    os.remove(os.path.join(self.path, name))
                    n += 1
        return n

    def clear(self) -> None:
        """Drop all bucket files + meta (before a rebuild with a new bucket
        layout — stale files of an old P would otherwise be probed)."""
        for name in os.listdir(self.path):
            if name.endswith(".npz") or name.endswith(".npy") \
                    or name == "filter_meta.json":
                os.remove(os.path.join(self.path, name))

    def write_meta(self, meta: dict) -> None:
        """The one writer of ``filter_meta.json``: tmp file + os.replace,
        so a concurrent reader or a restart after a crash sees the old or
        the new meta, never a torn file."""
        tmp = self._meta_path() + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            json.dump(meta, fh)
        os.replace(tmp, self._meta_path())

    def meta(self) -> dict:
        with open(self._meta_path()) as fh:
            return json.load(fh)

    def stamp_source(self, version: int | None) -> None:
        """Record (or clear, with None) the source-table version this
        store's contents reflect. A resumed engine reloads the store when
        the stamp equals the table's current version instead of paying the
        O(table) clear+rebuild scan every process start."""
        if os.path.exists(self._meta_path()):
            self.write_meta(_stamped(self.meta(), version))

    @staticmethod
    def load_bucket(path: str, bv: int) -> PyBloom | None:
        """Load one bucket's filter (executor-side; returns None if the
        bucket has no keys yet)."""
        fp = os.path.join(path, f"bucket-{bv:06d}.npz")
        if not os.path.exists(fp):
            return None
        z = np.load(fp)
        f = PyBloom.__new__(PyBloom)
        f.bits = z["bits"]
        f.m = len(f.bits) * 8
        f.k = int(z["k"])
        return f


def tag_by_filter_store(spark: SparkSession, batch: DataFrame,
                        store_path: str, key: str = "url_key",
                        exact: bool = False) -> DataFrame:
    """``batch`` + a ``_maybe`` membership column, probing a FilterStore
    WITHOUT a broadcast: repartition the batch on ``pmod(key, P)`` so each
    task sees whole buckets, then a mapInPandas probe lazily loads each
    bucket's filter file at most once per task. This is the
    executor-memory-bounded probe for seen sets too large to broadcast
    (>~10^9 keys).

    ``exact=True``: rows the approximate filter flags are resolved against
    the bucket's exact sorted-key segments via mmap searchsorted, so the
    tag is EXACT. Returning the
    tagged frame (rather than the two filtered branches) lets a caller
    cache ONE frame and derive fresh rows, duplicate keys, and batch
    counts from it without re-running the probe per branch."""
    store = FilterStore(store_path)
    meta = store.meta()
    P = int(meta["buckets"])
    s_path, do_exact = store_path, exact

    out_schema = T.StructType(batch.schema.fields +
                              [T.StructField("_maybe", T.BooleanType())])

    def gen(batches):
        cache: dict[int, object] = {}
        st = FilterStore(s_path)
        for pdf in batches:
            keys = pdf[key].to_numpy(dtype=np.int64)
            b = keys % P
            maybe = np.zeros(len(pdf), dtype=bool)
            for bv in np.unique(b):
                bv = int(bv)
                if bv not in cache:
                    cache[bv] = FilterStore.load_bucket(s_path, bv)
                f = cache[bv]
                if f is not None:
                    m = b == bv
                    hits = f.contains_many(keys[m])
                    if do_exact and hits.any():
                        sub = keys[m]
                        hits[hits] = st.contains_exact(bv, sub[hits])
                    maybe[m] = hits
            pdf = pdf.copy()
            pdf["_maybe"] = maybe
            yield pdf

    # partition count decoupled from the bucket count: a small store (few
    # buckets) must not force fewer tasks than cores — P=5 buckets on 4
    # cores ran a straggler wave at parallelism 2.1 in the round-4 stage
    # audit. The count is a MULTIPLE of P (round ceil(2·cores/P) up, capped
    # at 4096): pmod(key, m·P) ≡ pmod(key, P) (mod P), so every key within
    # one RESIDUE belongs to one bucket — but repartition HASH-partitions
    # the residue value, so distinct residues can still collide into one
    # task (expected ~1 bucket/task, Poisson-distributed — ADVICE r5; a
    # strict one-bucket-per-task bound would need repartitionByRange). The
    # round-4 `max(P, 2*par)` could be misaligned (P=100, 64 cores →
    # n_parts=128 → 25 buckets/task, each np.load'ing 25 full filters —
    # ADVICE r4). Any count is CORRECT (gen groups keys by bucket); the
    # alignment only bounds the EXPECTED per-task loads. P > 4096
    # degenerates to P.
    par = spark.sparkContext.defaultParallelism
    mult = -(-2 * par // P)  # ceil(2·par / P)
    n_parts = P * min(max(mult, 1), max(4096 // P, 1))
    routed = batch.repartition(n_parts, F.pmod(F.col(key), F.lit(n_parts)))
    return routed.mapInPandas(gen, out_schema)


def split_by_filter_store(spark: SparkSession, batch: DataFrame,
                          store_path: str, key: str = "url_key",
                          exact: bool = False) -> tuple[DataFrame, DataFrame]:
    """(definitely_new, maybe_seen) — the two branches of
    ``tag_by_filter_store``; with ``exact=True`` the second frame IS the
    seen rows (no confirming anti-join against the url_seen table needed —
    that join was O(seen table) per epoch; the segment probe touches
    O(maybes x log(bucket)) pages)."""
    tagged = tag_by_filter_store(spark, batch, store_path, key=key,
                                 exact=exact)
    return (tagged.where(~F.col("_maybe")).drop("_maybe"),
            tagged.where(F.col("_maybe")).drop("_maybe"))


def store_apply_keys(spark: SparkSession, keys_df: DataFrame,
                     store_path: str, key: str = "url_key",
                     seq: int | None = None,
                     source_version: int | None = None) -> dict[int, int]:
    """Apply incremental inserts to a FilterStore ENTIRELY executor-side:
    the batch is repartitioned on ``pmod(key, P)`` so each task owns whole
    buckets, loads each bucket's file once, mutates it with numpy, and
    writes it back atomically. The driver sees only per-bucket counters —
    never a key (the round-2 epoch loop pulled every epoch's new keys
    through ``toPandas`` and re-saved buckets driver-side).

    Returns ``{bucket: n_inserted}``. One meta write folds the bucket
    counts into the store's meta, so ``overfilled`` stays observable across
    epochs, and sets its source stamp to ``source_version``: None clears
    it, since the inserted keys move the store past any table version it
    was stamped with.
    """
    store = FilterStore(store_path)
    meta = store.meta()
    P = int(meta["buckets"])
    # epoch-stamped exact segments ride along with a ``seq`` (segment
    # maintenance is as executor-side as the filters)
    s_path, m_seq = store_path, seq

    out_schema = T.StructType([
        T.StructField("bv", T.IntegerType()),
        T.StructField("n", T.LongType()),
    ])

    def gen(batches):
        import pyarrow as pa

        chunks: dict[int, list[np.ndarray]] = {}
        for rb in batches:
            ks = rb.column(0).to_numpy(zero_copy_only=False)
            bs = rb.column(1).to_numpy(zero_copy_only=False)
            order = np.argsort(bs, kind="stable")
            ks_s, bs_s = ks[order], bs[order]
            uniq, starts = np.unique(bs_s, return_index=True)
            bounds = np.append(starts, len(bs_s))
            for i, bv in enumerate(uniq):
                sl = ks_s[bounds[i]:bounds[i + 1]].astype(np.int64, copy=True)
                chunks.setdefault(int(bv), []).append(sl)
        st = FilterStore(s_path)
        for bv, parts in chunks.items():
            arr = parts[0] if len(parts) == 1 else np.concatenate(parts)
            f = FilterStore.load_bucket(s_path, bv)
            if f is None:
                f = PyBloom(max(len(arr) * 2, NEW_BUCKET_ITEMS))
            elif not f.bits.flags.writeable:
                # loaded bits may be read-only (np.load mmap) —
                # bitwise_or.at needs a writable buffer
                f.bits = f.bits.copy()
            f.add_many(arr)
            st.save_bucket(bv, f)
            if m_seq is not None:
                st.apply_key_segment(bv, m_seq, arr)
            yield pa.RecordBatch.from_pydict(
                {"bv": [bv], "n": [len(arr)]},
                schema=pa.schema([pa.field("bv", pa.int32()),
                                  pa.field("n", pa.int64())]))

    routed = keys_df.select(
        F.col(key).cast("long").alias("k"),
        F.pmod(F.col(key), F.lit(P)).cast("int").alias("b"),
    ).repartition(min(P, 256), "b")
    rows = routed.mapInArrow(gen, out_schema).collect()
    per_bucket = {int(r["bv"]): int(r["n"]) for r in rows}
    # fold counters into the meta file (tiny JSON — no keys)
    ins = meta.setdefault("inserted", {})
    for bv, n in per_bucket.items():
        ins[str(bv)] = ins.get(str(bv), 0) + n
    store.write_meta(_stamped(meta, source_version))
    return per_bucket


class TableFilter:
    """The lifecycle of a FilterStore kept in step with one table's
    ``url_key`` set: the one implementation behind the crawl engine's
    url_seen filter and its frontier-membership sidecar.

    ``ensure`` returns the store's path, ready to probe: the store this
    process keeps current; else, on a resume, the persisted store when its
    meta is stamped with the table's current version and this filter kind;
    else a rebuild from the table, sized for ``expected(keys)`` keys with
    every bucket capped at ``cap_per_bucket``. A store with a bucket past
    its design capacity is rebuilt the same way, with more buckets.
    ``extend`` inserts a batch executor-side, ``stamp``/``unstamp`` set and
    clear the table version the store reflects, ``invalidate`` forces the
    next ``ensure`` to rebuild, and ``drop_orphans`` removes a crashed
    epoch's key segments.

    ``filter_meta.json`` is the only record of the store's layout,
    counters, kind and stamp; this object holds no counters.
    ``stamp_writes=True`` stamps every build and extend with the table's
    current version, for an owner that appends to the table before it
    extends the store; False leaves the stamp to the owner."""

    def __init__(self, spark: SparkSession, path: str, table,
                 expected: Callable[[DataFrame], int], cap_per_bucket: int,
                 stamp_writes: bool):
        self.spark, self.path, self.table = spark, path, table
        self.expected = expected
        self.cap_per_bucket = cap_per_bucket
        self.stamp_writes = stamp_writes
        # set once this process built or reloaded the store: every later
        # mutation goes through this object, so the store stays current
        self.live = False

    def _write_stamp(self) -> int | None:
        return self.table.current_version() if self.stamp_writes else None

    def _reusable(self) -> bool:
        try:
            meta = FilterStore(self.path).meta()
        except (OSError, ValueError):
            return False  # missing or torn meta: rebuild
        self.live = self.live or (
            meta.get("source_version") == self.table.current_version()
            and meta.get("kind") == FILTER_KIND)
        return self.live and not overfilled(meta)

    def ensure(self, keys: DataFrame | None = None) -> str:
        """The store's path, reloaded or rebuilt first when it is not
        current. A build reads ``keys``, the table's frame when the caller
        already holds one, else the table."""
        if not self._reusable():
            if keys is None:
                keys = self.table.read(self.spark)
            expected = max(self.expected(keys), 1024)
            # stale buckets of an old layout must not probe
            FilterStore(self.path).clear()
            # expected >= 1024, so the build never returns None: an empty
            # table yields a store whose probe reads every key as new
            build_partitioned(keys, self.path, expected=expected,
                              cap_per_bucket=self.cap_per_bucket,
                              source_version=self._write_stamp())
            self.live = True
        return self.path

    def extend(self, keys: DataFrame, epoch: int) -> None:
        """Insert a batch of new keys executor-side; their exact segments
        carry ``epoch`` so ``drop_orphans`` can undo a crashed epoch."""
        store_apply_keys(self.spark, keys.select("url_key"), self.path,
                         seq=epoch, source_version=self._write_stamp())

    def stamp(self, version: int) -> None:
        """Record the table version the store reflects."""
        FilterStore(self.path).stamp_source(version)

    def unstamp(self) -> None:
        """Clear the stamp before mutations that leave the store between
        two table versions, so a crash in between forces a rebuild. A store
        stamped with the table's current version is taken live first: the
        clear never costs a clean resume its reload."""
        self._reusable()
        FilterStore(self.path).stamp_source(None)

    def invalidate(self) -> None:
        """Forget the store (Bloom cannot delete keys): the next ``ensure``
        rebuilds it, in this process and after a resume."""
        self.live = False
        FilterStore(self.path).stamp_source(None)

    def drop_orphans(self, epoch: int) -> None:
        """Crash recovery: drop the key segments stamped ``epoch`` or later.
        The filter files keep the orphan keys: false positives the segments
        reject, never false negatives, so no rebuild is needed."""
        if os.path.isdir(self.path):
            FilterStore(self.path).drop_segments_from(epoch)


def seen_updates(new_rows: DataFrame, epoch: int, buckets: int = 64) -> DataFrame:
    """Rows to append to the url_seen state table after an epoch commits."""
    return new_rows.select(
        "url_key",
        "host",
        F.lit(epoch).alias("first_seen_epoch"),
        F.pmod(F.col("url_key"), F.lit(buckets)).cast("int").alias("bucket"),
    ).dropDuplicates(["url_key"])
