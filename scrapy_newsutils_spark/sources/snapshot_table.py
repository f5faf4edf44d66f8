"""Snapshot-committed parquet tables: Iceberg-style semantics without the jar.

The north rule asks for Iceberg state tables (frontier, url_seen, posts,
fetched, metrics) with atomic snapshot commits so a killed job resumes from
the last committed snapshot with identical state. The Iceberg runtime jar is
not available in this sandbox, so this module provides the same *semantics*
on plain parquet:

- every commit writes a fresh data directory plus a JSON manifest
  ``_snapshots/v{N}.json``; the table's visible state flips atomically by
  renaming a tempfile onto ``_snapshots/CURRENT`` (POSIX rename atomicity);
- readers resolve CURRENT → manifest → data dirs, so a reader never sees a
  half-written commit;
- optimistic concurrency: ``commit(expected_version=...)`` refuses to commit
  over a version it did not read (replaces the reference's psutil
  ``is_running`` singleton guard — /root/reference/src/newsutils/crawl/commands.py:27-38);
- time travel: ``read(version=k)`` for resume/lineage inspection;
- MERGE INTO is emulated set-wise (anti-join + union) — the same shuffle
  shape Iceberg's copy-on-write MERGE produces.

On a real cluster, swap this class for ``spark.table("catalog.db.tbl")`` +
``MERGE INTO``; the operator code above it is unchanged.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


class CommitConflict(RuntimeError):
    """Another writer committed since this writer read the table."""


class SnapshotTable:
    # MoR delete deltas at or under this on-disk size are broadcast in
    # read() (~12M int64 keys of snappy parquet; the JVM hash relation for
    # that is ~200 MB — inside a comfortable executor budget)
    DELETE_BROADCAST_MAX_BYTES = 96 * 1024 * 1024

    def __init__(self, path: str, schema: T.StructType):
        self.path = path
        self.schema = schema
        self._snap_dir = os.path.join(path, "_snapshots")
        os.makedirs(self._snap_dir, exist_ok=True)

    # -- snapshot bookkeeping -------------------------------------------------
    def _current_file(self) -> str:
        return os.path.join(self._snap_dir, "CURRENT")

    def current_version(self) -> int:
        try:
            with open(self._current_file()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return 0

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self._snap_dir, f"v{version:08d}.json")

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "dirs": [], "meta": {}, "deletes": [],
                    "part_dirs": {}}
        with open(self._manifest_path(v)) as f:
            return json.load(f)

    # -- read -----------------------------------------------------------------
    def read(self, spark: SparkSession, version: int | None = None,
             partitions: list[str] | None = None) -> DataFrame:
        """Current table state = base data dirs minus delete deltas
        (merge-on-read: equality deletes applied as one anti-join at read
        time — Iceberg MoR semantics; see ``delete_by_keys``).

        ``partitions``: partition-value keys (the stringified ``part_expr``
        values the manifest tracks, e.g. ``["2024-03-01"]``) — the scan
        lists ONLY those values' data dirs, Iceberg-style manifest partition
        pruning. A day job over a 100-TB day-partitioned posts table reads
        O(day), not O(table) (round-3 S8 weakness: every NLP verb re-read
        every day ever written). On an unpartitioned table the hint is
        ignored (nothing to prune — callers pair it with a pushdown-friendly
        residual predicate, which then does all the work)."""
        m = self.manifest(version)
        part_dirs = m.get("part_dirs", {})
        if partitions is not None and part_dirs:
            part_dirs = {pv: part_dirs[pv] for pv in partitions
                         if pv in part_dirs}
        dirs = list(m["dirs"]) + [d for pd in part_dirs.values() for d in pd]
        if not dirs:
            return spark.createDataFrame([], self.schema)
        df = spark.read.schema(self.schema).parquet(
            *[os.path.join(self.path, d) for d in dirs]
        )
        deletes = m.get("deletes", [])
        if deletes:
            key_cols = deletes[0]["keys"]
            del_dirs = [os.path.join(self.path, d["dir"]) for d in deletes]
            keys = spark.read.parquet(*del_dirs)
            # Iceberg-style: broadcast small equality-delete sets so the MoR
            # anti-join never re-shuffles the (huge) base. Without this a
            # few-MB delta over the broadcast threshold forces a full
            # sort-merge of the base per read — measured 2x epoch pop cost.
            # Size from local file stat (cheap); cap ≈ 12M int64 keys.
            del_bytes = sum(
                os.path.getsize(os.path.join(dd, f))
                for dd in del_dirs for f in os.listdir(dd)
                if f.endswith(".parquet"))
            if del_bytes <= self.DELETE_BROADCAST_MAX_BYTES:
                keys = F.broadcast(keys)
            df = df.join(keys, key_cols, "left_anti")
        return df

    # -- write ----------------------------------------------------------------
    def _write_data(self, df: DataFrame) -> str:
        d = f"data-{uuid.uuid4().hex[:12]}"
        df.write.mode("overwrite").parquet(os.path.join(self.path, d))
        return d

    def _write_partitioned(self, df: DataFrame, part_expr) -> tuple[str, dict]:
        """Write ``df`` hive-partitioned on ``part_expr`` in ONE Spark job;
        returns (data_dir, {pv_key: relative subdir}). Spark's
        ``partitionBy`` drops the partition column from the files, so the
        subdirs read back with the plain table schema."""
        from urllib.parse import unquote

        if isinstance(part_expr, str):
            part_expr = F.col(part_expr)
        d = f"data-{uuid.uuid4().hex[:12]}"
        dst = os.path.join(self.path, d)
        df.withColumn("_pv", part_expr.cast("string")) \
            .write.mode("overwrite").partitionBy("_pv").parquet(dst)
        touched: dict[str, str] = {}
        for sub in os.listdir(dst):
            if not sub.startswith("_pv="):
                continue
            raw = unquote(sub[len("_pv="):])
            pv_key = "NULL" if raw == "__HIVE_DEFAULT_PARTITION__" else raw
            touched[pv_key] = f"{d}/{sub}"
        return d, touched

    def _commit_manifest(self, dirs: list[str], meta: dict,
                         expected_version: int | None,
                         deletes: list[dict] | None = None,
                         part_dirs: dict[str, list[str]] | None = None) -> int:
        cur = self.current_version()
        if expected_version is not None and cur != expected_version:
            raise CommitConflict(
                f"table {self.path}: version moved {expected_version} -> {cur}"
            )
        new_v = cur + 1
        manifest = {
            "version": new_v,
            "parent": cur,
            "dirs": dirs,
            "meta": meta,
            "deletes": deletes or [],
            "part_dirs": part_dirs or {},
            "committed_at": time.time(),
        }
        mpath = self._manifest_path(new_v)
        if os.path.exists(mpath):  # concurrent writer beat us to new_v
            raise CommitConflict(f"manifest v{new_v} already exists")
        with open(mpath + ".tmp", "w") as f:
            json.dump(manifest, f)
        os.rename(mpath + ".tmp", mpath)
        # atomic flip of CURRENT
        fd, tmp = tempfile.mkstemp(dir=self._snap_dir)
        with os.fdopen(fd, "w") as f:
            f.write(str(new_v))
        os.rename(tmp, self._current_file())
        return new_v

    def overwrite(self, df: DataFrame, meta: dict | None = None,
                  expected_version: int | None = None) -> int:
        """Copy-on-write full replacement (one new data dir, new snapshot)."""
        d = self._write_data(df)
        return self._commit_manifest([d], meta or {}, expected_version)

    def append(self, df: DataFrame, meta: dict | None = None,
               expected_version: int | None = None, part_expr=None) -> int:
        """Fast append: keep previous data dirs, add one (merge-on-read
        flavour — right for high-churn append-mostly tables like metrics).

        On a PARTITIONED table (non-empty ``part_dirs``) the new rows must
        land inside partition dirs or the next ``merge_upsert_partitioned``
        would refuse the non-empty base: pass ``part_expr`` (same expression
        the merges use) and the append writes one ``_pv=...`` dir per touched
        value; omitting it raises instead of silently bricking later merges
        (the round-2 latent contract bug). Passing ``part_expr`` to an EMPTY
        table establishes the partition layout from the first append — an
        append-only table (streaming fetched, partitioned on epoch) never
        goes through a merge, so the layout has to start somewhere."""
        m = self.manifest()
        if m.get("part_dirs") or (part_expr is not None and not m["dirs"]):
            if part_expr is None:
                raise ValueError(
                    "append to a partitioned table requires part_expr= (the "
                    "same partition expression merge_upsert_partitioned uses)"
                )
            d, touched = self._write_partitioned(
                df.select([f.name for f in self.schema.fields]), part_expr)
            part_dirs = dict(m["part_dirs"])
            for pv_key, sub in touched.items():
                part_dirs[pv_key] = part_dirs.get(pv_key, []) + [sub]
            return self._commit_manifest(m["dirs"], meta or {},
                                         expected_version,
                                         m.get("deletes", []), part_dirs)
        d = self._write_data(df)
        return self._commit_manifest(m["dirs"] + [d], meta or {},
                                     expected_version, m.get("deletes", []),
                                     m.get("part_dirs", {}))

    def adopt_parquet_dir(self, src_dir: str, meta: dict | None = None,
                          expected_version: int | None = None) -> int:
        """Zero-copy bootstrap: hardlink an existing parquet directory's
        data files into a fresh data dir and commit it as this table's
        state. The cluster analog is Iceberg's add_files/register_table —
        adopting externally-written files by manifest reference instead of
        rewriting them. Requires same-filesystem src (hardlinks); falls
        back to copies otherwise.

        Bootstrap-only: committing [d] as the WHOLE table state would
        silently discard existing data dirs / deletes / partition layout,
        so adopting into a non-empty table refuses."""
        if self.current_version() != 0:
            raise ValueError(
                "adopt_parquet_dir is a bootstrap-only operation; table "
                f"{self.path} is at version {self.current_version()} — "
                "use append()/merge_upsert*() instead")
        d = f"data-{uuid.uuid4().hex[:12]}"
        dst = os.path.join(self.path, d)
        os.makedirs(dst, exist_ok=True)
        for name in os.listdir(src_dir):
            if not (name.endswith(".parquet") or name == "_SUCCESS"):
                continue
            sp_, dp_ = os.path.join(src_dir, name), os.path.join(dst, name)
            try:
                os.link(sp_, dp_)
            except OSError:
                shutil.copy2(sp_, dp_)
        return self._commit_manifest([d], meta or {}, expected_version)

    def delete_by_keys(self, keys: DataFrame, key_cols: list[str],
                       meta: dict | None = None,
                       expected_version: int | None = None) -> int:
        """Merge-on-read equality delete: commit a tiny delta of keys; rows
        matching any committed delete key disappear from ``read``.

        THE high-churn path at frontier scale — popping 10^5 URLs from a
        10^10-row frontier must not rewrite the frontier (copy-on-write of
        the base is O(table); this is O(delta)). NOTE: deletes apply to the
        whole table state, including later appends with the same key —
        frontier semantics guarantee popped keys are never re-inserted
        (they live in url_seen from then on). Compact with ``compact()``
        when the delete set grows past ~10% of base."""
        d = self.prepare_delete(keys, key_cols)
        return self.commit_prepared_delete(d, key_cols, meta, expected_version)

    def prepare_delete(self, keys: DataFrame, key_cols: list[str]) -> str:
        """Write a delete delta's data files WITHOUT committing — the write
        (the expensive, fully parallel half of ``delete_by_keys``) can then
        overlap other work, while the manifest flip stays on the caller's
        ordered critical path. Side-effect-free until
        ``commit_prepared_delete``: an uncommitted data dir is invisible to
        readers and swept by ``vacuum``."""
        return self._write_data(keys.select(*key_cols).dropDuplicates(key_cols))

    def commit_prepared_delete(self, data_dir: str, key_cols: list[str],
                               meta: dict | None = None,
                               expected_version: int | None = None,
                               warm: bool = False) -> int:
        """Commit a delta previously written by ``prepare_delete`` (metadata
        only — no Spark job). ``warm=True`` marks a plan-shape warm-up delta
        (empty key set committed at bootstrap so every read takes the MoR
        anti-join plan from epoch 1): it participates in reads like any
        delta but does not count toward the compaction trigger
        (``n_delete_deltas``)."""
        m = self.manifest()
        entry = {"dir": data_dir, "keys": key_cols}
        if warm:
            entry["warm"] = True
        dels = m.get("deletes", []) + [entry]
        if any(e["keys"] != key_cols for e in dels):
            raise ValueError("all delete deltas of a table must share key_cols")
        return self._commit_manifest(m["dirs"], meta or {}, expected_version,
                                     dels, m.get("part_dirs", {}))

    def compact(self, spark: SparkSession, meta: dict | None = None,
                expected_version: int | None = None) -> int:
        """Materialize base − deletes into fresh base dirs (MoR compaction)."""
        return self.overwrite(self.read(spark), meta, expected_version)

    def n_delete_deltas(self) -> int:
        return len([d for d in self.manifest().get("deletes", [])
                    if not d.get("warm")])

    def merge_upsert(
        self,
        spark: SparkSession,
        batch: DataFrame,
        key_cols: list[str],
        meta: dict | None = None,
        expected_version: int | None = None,
    ) -> int:
        """Emulated ``MERGE INTO ... WHEN MATCHED UPDATE WHEN NOT MATCHED
        INSERT``: existing rows whose key collides with the batch are
        replaced by the batch row (batch wins), everything else is kept.

        Mirrors the reference upsert sink ``Day.save``/``update_or_create``
        (/root/reference/src/newsutils/crawl/day.py:103-156). The anti-join
        shuffles on the key — identical shape to Iceberg CoW MERGE.
        """
        existing = self.read(spark)
        batch = batch.select([f.name for f in self.schema.fields])
        keep = existing.join(
            batch.select(*key_cols).dropDuplicates(key_cols), on=key_cols, how="left_anti"
        )
        merged = keep.unionByName(batch.dropDuplicates(key_cols))
        return self.overwrite(merged, meta, expected_version)

    def merge_upsert_partitioned(
        self,
        spark: SparkSession,
        batch: DataFrame,
        key_cols: list[str],
        part_expr,
        meta: dict | None = None,
        expected_version: int | None = None,
        update_cols: list[str] | None = None,
    ) -> int:
        """Partition-scoped MERGE: rewrite ONLY the partitions the batch
        touches — Iceberg CoW MERGE with partition pruning, the fix for the
        round-1 full-table rewrite (O(table) per merge at 100 TB; a crawl
        batch touches a handful of days of a day-partitioned posts table).

        ``part_expr``: Column (or name) whose value partitions the table —
        e.g. ``F.to_date("publish_time")``. The manifest maps each partition
        value to its data dirs; a merge reads + rewrites only the dirs of
        the batch's distinct values, every other partition's files are
        byte-identical untouched (asserted in tests). The table must be
        written exclusively through this method (plus append/delete, which
        preserve partition dirs); mixing with ``overwrite``/``merge_upsert``
        resets it to unpartitioned.

        All touched partitions are merged and written in ONE Spark job via a
        ``partitionBy`` write (the round-2 version launched one job per
        touched value — O(days) job-scheduling latency on a backfill).

        ``update_cols``: the reference's ``Day.save(only=[...])`` parity
        (/root/reference/src/newsutils/crawl/day.py:115-135) — when set, a
        MATCHED row takes only these columns from the batch and keeps every
        other column from the existing row; NOT-MATCHED rows insert whole.
        The NLP verbs use this to write just siblings/related/summary
        without clobbering a concurrent writer's columns.

        If the table carries merge-on-read delete deltas, delta keys that
        collide with the batch are dropped (one consolidating rewrite) — a
        re-upserted key must be visible again, not anti-joined away at read.
        """
        if isinstance(part_expr, str):
            part_expr = F.col(part_expr)
        m = self.manifest()
        if m["dirs"]:
            # tolerate the common bootstrap pattern overwrite(empty_df):
            # empty base dirs carry no rows and can be dropped from the
            # layout; NON-empty base dirs would make the scoped merge skip
            # their rows, so those are refused.
            base = spark.read.schema(self.schema).parquet(
                *[os.path.join(self.path, d) for d in m["dirs"]])
            if base.limit(1).count() > 0:
                raise ValueError(
                    "table has non-empty unpartitioned base dirs; partition-"
                    "scoped merge requires a table written only via "
                    "merge_upsert_partitioned")
            m = {**m, "dirs": []}
        part_dirs = dict(m.get("part_dirs", {}))
        cols = [f.name for f in self.schema.fields]
        batch = batch.select(cols).withColumn("_pv", part_expr.cast("string"))
        pvals = [r["_pv"] for r in batch.select("_pv").distinct().collect()]
        pv_keys = {("NULL" if pv is None else str(pv)) for pv in pvals}
        batch = batch.drop("_pv").dropDuplicates(key_cols)

        old = [d for pvk in pv_keys for d in part_dirs.get(pvk, [])]
        if old:
            # existing rows of the touched partitions only; their partition
            # value is recomputed from part_expr (deterministic per row), so
            # one union read suffices — no per-partition jobs
            existing = spark.read.schema(self.schema).parquet(
                *[os.path.join(self.path, d) for d in old])
            if update_cols:
                non_key_update = [c for c in update_cols if c not in key_cols]
                b_upd = batch.select(
                    *key_cols,
                    *[F.col(c).alias(f"_u_{c}") for c in non_key_update],
                    F.lit(True).alias("_matched"))
                upd = existing.join(b_upd, key_cols, "left")
                merged_existing = upd.select(*[
                    (F.when(F.col("_matched"), F.col(f"_u_{c}"))
                     .otherwise(F.col(c)).alias(c)
                     if c in non_key_update else F.col(c))
                    for c in cols])
                inserts = batch.join(existing.select(*key_cols),
                                     key_cols, "left_anti")
                merged = merged_existing.unionByName(inserts)
            else:
                keep = existing.join(batch.select(*key_cols),
                                     key_cols, "left_anti")
                merged = keep.unionByName(batch)
        else:
            merged = batch
        _, touched = self._write_partitioned(merged, part_expr)
        # a touched partition may legitimately vanish (all its rows merged
        # into other values is impossible — part_expr is row-deterministic —
        # but an existing dir read can only re-emit its own value), so the
        # new layout is: touched values point at their fresh dir, everything
        # else keeps its old dirs untouched
        for pv_key, sub in touched.items():
            part_dirs[pv_key] = [sub]
        deletes = m.get("deletes", [])
        if deletes:
            kcols = deletes[0]["keys"]
            live = spark.read.parquet(
                *[os.path.join(self.path, e["dir"]) for e in deletes]) \
                .join(batch.select(*kcols).dropDuplicates(kcols),
                      kcols, "left_anti")
            if live.limit(1).count() == 0:
                deletes = []
            else:
                deletes = [{"dir": self._write_data(live), "keys": kcols}]
        return self._commit_manifest([], meta or {}, expected_version,
                                     deletes, part_dirs)

    def partition_layout(self) -> dict[str, list[str]]:
        """Current partition-value → data-dirs mapping (test/inspection)."""
        return dict(self.manifest().get("part_dirs", {}))

    def rollback(self, version: int) -> None:
        """Reset CURRENT to an earlier snapshot (data dirs are immutable, so
        this is metadata-only — used by crash recovery to discard a
        partially-applied multi-commit epoch)."""
        cur = self.current_version()
        if version > cur:
            raise ValueError("cannot roll forward")
        fd, tmp = tempfile.mkstemp(dir=self._snap_dir)
        with os.fdopen(fd, "w") as f:
            f.write(str(version))
        os.rename(tmp, self._current_file())
        # drop the dead-branch manifests so future commits can reuse their
        # version numbers (data dirs stay — they may be shared with live
        # snapshots; vacuum handles orphans)
        for v in range(version + 1, cur + 1):
            try:
                os.remove(self._manifest_path(v))
            except FileNotFoundError:
                pass

    def vacuum(self, keep_last: int = 3) -> None:
        """Drop data dirs unreferenced by the last ``keep_last`` snapshots."""
        cur = self.current_version()
        live: set[str] = set()
        for v in range(max(1, cur - keep_last + 1), cur + 1):
            try:
                m = self.manifest(v)
                live.update(m["dirs"])
                live.update(e["dir"] for e in m.get("deletes", []))
                live.update(d for pd in m.get("part_dirs", {}).values()
                            for d in pd)
            except FileNotFoundError:
                pass
        # partition dirs are referenced as "data-x/_pv=y" — keep the whole
        # top-level dir if ANY of its subdirs is live
        live_top = {p.split("/", 1)[0] for p in live}
        for entry in os.listdir(self.path):
            if entry.startswith("data-") and entry not in live_top:
                shutil.rmtree(os.path.join(self.path, entry), ignore_errors=True)

    # -- convenience ----------------------------------------------------------
    def count(self, spark: SparkSession) -> int:
        return self.read(spark).count()

    def empty(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame([], self.schema)

