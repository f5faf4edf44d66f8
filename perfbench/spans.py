"""Span tracing for the traced benchmark run.

Spans are recorded around calls into the engine's public layer functions by
replacing the module attributes the engine looks up at call time (for
example ``dedup.tag_by_filter_store`` or ``SnapshotTable.append``). Nothing
in the engine is edited; ``install`` returns an undo function.

Each span keeps its name, start, end, parent and thread. Jobs a span submits
are tagged with the span id through the ``spark.job.description`` local
property, so Spark stage metrics read from the status store attach to the
innermost span that ran them. A layer function that returns a lazy
DataFrame is materialised (cache + count) inside its span so that its
execution lands there; extra counting the tracer does is recorded as
``trace.overhead`` child spans and reported as tracing overhead.
"""

from __future__ import annotations

import itertools
import threading
import time
from collections import defaultdict
from collections.abc import Callable
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OVERHEAD = "trace.overhead"
_DESC = "spark.job.description"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._cached: list[DataFrame] = []
        # parent for spans opened on threads with no open span of their own
        # (the engine's commit pool threads): the current closed-loop op
        self.op_span: int | None = None

    @contextmanager
    def span(self, name: str):
        sid = next(self._ids)
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.op_span
        prev = self.sc.getLocalProperty(_DESC)
        self.sc.setLocalProperty(_DESC, f"span:{sid}")
        stack.append(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            stack.pop()
            self.sc.setLocalProperty(_DESC, prev)
            with self._lock:
                self.spans.append({"id": sid, "name": name, "parent": parent,
                                   "start": start, "end": end,
                                   "thread": threading.get_ident()})

    @contextmanager
    def op(self, name: str):
        """A closed-loop operation: a crawl epoch or a news-day job."""
        with self.span(name) as sid:
            self.op_span = sid
            try:
                yield sid
            finally:
                self.op_span = None
                for df in self._cached:
                    df.unpersist()
                self._cached.clear()

    def add(self, key: str, value: float) -> None:
        with self._lock:
            self.counts[key] += value

    def materialise(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = df.cache()
        n = df.count()
        self._cached.append(df)
        return df, n

    # -- reading the spans back ----------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the union of the intervals
        its child spans cover."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = union_len(kids[s["id"]], s["start"], s["end"])
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return out

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def ops(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- instrumentation -------------------------------------------------------------

def _wrap(tracer: Tracer, owner, attr: str, name: str, lazy: bool = False,
          after=None):
    """Replace ``owner.attr`` with a spanned version. ``lazy``: materialise a
    returned DataFrame inside the span. ``after(args, kwargs, out, n)`` runs
    extra counting inside an overhead span (``n`` = materialised rows).
    Calls made outside a closed-loop op pass straight through."""
    orig = owner.__dict__[attr]

    def wrapper(*args, **kwargs):
        if tracer.op_span is None:  # set-up and checks are not traced
            return orig(*args, **kwargs)
        with tracer.span(name):
            out = orig(*args, **kwargs)
            n = None
            if lazy and isinstance(out, DataFrame):
                out, n = tracer.materialise(out)
            if after is not None:
                with tracer.span(OVERHEAD):
                    after(args, kwargs, out, n)
        return out

    setattr(owner, attr, wrapper)
    return lambda: setattr(owner, attr, orig)


def install(tracer: Tracer) -> Callable[[], None]:
    """Instrument every layer the workloads reach. Returns the undo."""
    from scrapy_newsutils_spark.operators import (dedup, edits, frontier,
                                                  politeness, training)
    from scrapy_newsutils_spark.plans import (crawl_compose, epoch, nlp_job,
                                              posts_pipeline)
    from scrapy_newsutils_spark.sources import fetch, parse
    from scrapy_newsutils_spark.sources.snapshot_table import SnapshotTable

    add = tracer.add
    tag_by_filter_store = dedup.tag_by_filter_store  # unwrapped

    def pop_counts(args, kwargs, out, n):
        add("frontier.rows_in", args[0].count())
        add("frontier.rows_out", n)

    def probe_counts(args, kwargs, out, n):
        spark, batch, store = args[0], args[1], args[2]
        add("dedup.probe_keys", n)
        add("dedup.exact_maybes", out.where("_maybe").count())
        approx = tag_by_filter_store(spark, batch, store, exact=False)
        add("dedup.filter_maybes", approx.where("_maybe").count())

    def payload_counts(args, kwargs, out, n):
        add("fetch.payload_bytes", out.agg(
            F.coalesce(F.sum(F.length("bytes")), F.lit(0))).first()[0])

    def parse_counts(args, kwargs, out, n):
        add("parse.pages", n)
        add("parse.outlinks", out.agg(
            F.coalesce(F.sum(F.size("outlinks")), F.lit(0))).first()[0])

    def read_counts(args, kwargs, out, n):
        add("snapshot_table.files_read", len(out.inputFiles()))

    def batch_counts(args, kwargs, out, n):
        add("edits.new", out.new)

    def rows_as(key):
        return lambda args, kwargs, out, n: add(key, n)

    def build_counts(args, kwargs, out, n):
        add("dedup.filter_builds", 1)

    plan = [
        (epoch.CrawlEngine, "_compact_frontier", "snapshot_table.compact", False, None),
        (frontier, "pop_top_k_per_host", "frontier.pop", True, pop_counts),
        (dedup, "tag_by_filter_store", "dedup.probe", True, probe_counts),
        (dedup, "store_apply_keys", "dedup.apply_keys", False, None),
        (dedup, "build_partitioned", "dedup.filter_build", False, build_counts),
        (politeness, "with_politeness", "politeness.gate", True, None),
        (fetch, "fetch_epoch_rows", "fetch.fetch", True, payload_counts),
        (parse, "parse_pages", "parse.parse", True, parse_counts),
        (SnapshotTable, "read", "snapshot_table.read", False, read_counts),
        (SnapshotTable, "append", "snapshot_table.append", False, None),
        (SnapshotTable, "overwrite", "snapshot_table.overwrite", False, None),
        (SnapshotTable, "prepare_delete", "snapshot_table.prepare_delete", False, None),
        (SnapshotTable, "commit_prepared_delete", "snapshot_table.commit", False, None),
        (SnapshotTable, "merge_upsert_partitioned", "snapshot_table.merge", False, None),
        (crawl_compose, "crawl_pages_to_posts", "crawl_compose.to_posts", False, None),
        (posts_pipeline, "process_crawl_batch", "posts_pipeline.batch", False, batch_counts),
        (edits, "classify_edits", "edits.classify", True, None),
        (nlp_job, "save_similarity", "nlp_job.similarity", False, None),
        (nlp_job, "save_summary", "nlp_job.summary", False, None),
        (nlp_job, "save_metapost", "nlp_job.metapost", False, None),
        (training, "analyze_documents", "training.analyze", True, None),
        (training, "dedup_exact", "training.exact", True, None),
        (training, "minhash_lsh_candidates", "training.minhash_candidates", True,
         rows_as("training.candidates")),
        (training, "minhash_near_dups", "training.minhash_pairs", True,
         rows_as("training.pairs_verified")),
        (training, "dedup_components", "training.components", True, None),
        (training, "embedding_near_dups", "training.embed_near_dups", True, None),
    ]
    undo = [_wrap(tracer, *p) for p in plan]

    def restore():
        for u in reversed(undo):
            u()

    return restore


# -- Spark status store ------------------------------------------------------------

STAGE_FIELDS = ("tasks", "executor_run_s", "executor_cpu_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")


def spark_stages(spark) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the driver's status store. A stage belongs to
    the lowest-numbered job that lists it; skipped stages are dropped."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
    jobs = []
    owner: dict[int, int] = {}
    for j in conv.asJava(store.jobsList(None)):
        d = j.description()
        jid = j.jobId()
        jobs.append({
            "job": jid,
            "span": _span_of(d.get() if d.isDefined() else None),
            "start": _secs(j.submissionTime()),
            "end": _secs(j.completionTime()),
        })
        for sid in conv.asJava(j.stageIds()):
            owner[sid] = min(owner.get(sid, jid), jid)
    span_of_job = {j["job"]: j["span"] for j in jobs}
    stages = []
    no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)
    for s in conv.asJava(store.stageList(None, False, False, no_quantiles,
                                         sc._jvm.java.util.ArrayList())):
        if s.status().toString() != "COMPLETE":
            continue
        stages.append({
            "stage": s.stageId(),
            "span": span_of_job.get(owner.get(s.stageId())),
            "start": _secs(s.submissionTime()),
            "end": _secs(s.completionTime()),
            "tasks": s.numTasks(),
            "executor_run_s": s.executorRunTime() / 1000,
            "executor_cpu_s": s.executorCpuTime() / 1e9,
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
            "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        })
    return jobs, stages


def _secs(date_option) -> float | None:
    """A status-store ``Option[Date]`` as epoch seconds."""
    return date_option.get().getTime() / 1000 if date_option.isDefined() else None


def _span_of(desc: str | None) -> int | None:
    if desc and desc.startswith("span:"):
        return int(desc[5:])
    return None
