"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload crawl_scan --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
traced run (spans also go to ``.perfbench_out/``). The line before it holds
host facts, the output digest and the check failures. The exit code is 1
when an output check or an operation failed, 2 when the engine package is
missing. All scratch state lives under ``.perfbench_run/`` in the working
directory and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.getcwd()
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
DEADLINE_S = 170

END_TO_END = {
    "setup_s": "s", "work_per_s": "1/s", "op_p50_s": "s",
    "first_op_s": "s", "e2e_s": "s",
}
PER_LAYER = {
    "session.start_s": "s", "process.peak_rss_mb": "MB",
    "epoch.spark_jobs": "count", "epoch.driver_only_s": "s",
    "epoch.executor_busy_share": "ratio",
    "frontier.pop_s": "s", "frontier.rows_in": "count",
    "frontier.rows_out": "count",
    "dedup.probe_s": "s", "dedup.probe_keys": "count",
    "dedup.exact_over_maybe": "ratio", "dedup.apply_keys_s": "s",
    "dedup.filter_builds": "count", "dedup.filter_build_s": "s",
    "politeness.gate_s": "s", "politeness.deferred_over_fresh": "ratio",
    "fetch.fetch_s": "s", "fetch.payload_bytes": "bytes",
    "parse.parse_s": "s", "parse.pages": "count", "parse.outlinks": "count",
    "snapshot_table.read_s": "s", "snapshot_table.append_s": "s",
    "snapshot_table.prepare_delete_s": "s", "snapshot_table.commit_s": "s",
    "snapshot_table.compact_s": "s", "snapshot_table.merge_s": "s",
    "snapshot_table.files_read": "count", "snapshot_table.state_bytes": "bytes",
    "posts_pipeline.batch_s": "s",
    "edits.new": "count",
    "nlp_job.similarity_s": "s", "nlp_job.summary_s": "s",
    "nlp_job.metapost_s": "s",
    "training.analyze_s": "s", "training.exact_s": "s",
    "training.minhash_pairs_s": "s",
    "training.pairs_verified_over_candidates": "ratio",
    "training.components_s": "s", "training.embed_near_dups_s": "s",
    "training.corpus_s": "s",
    "spark.shuffle_read_bytes": "bytes", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.tasks": "count",
    "trace.op_p50_s": "s", "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
}
# per-layer time metric <- span names whose self time it sums
SELF_TIME = {
    "frontier.pop_s": ["frontier.pop"],
    "dedup.probe_s": ["dedup.probe"],
    "dedup.apply_keys_s": ["dedup.apply_keys"],
    "dedup.filter_build_s": ["dedup.filter_build"],
    "politeness.gate_s": ["politeness.gate"],
    "fetch.fetch_s": ["fetch.fetch"],
    "parse.parse_s": ["parse.parse"],
    "snapshot_table.read_s": ["snapshot_table.read"],
    "snapshot_table.append_s": ["snapshot_table.append"],
    "snapshot_table.prepare_delete_s": ["snapshot_table.prepare_delete"],
    "snapshot_table.commit_s": ["snapshot_table.commit"],
    "snapshot_table.compact_s": ["snapshot_table.compact",
                                 "snapshot_table.overwrite"],
    "snapshot_table.merge_s": ["snapshot_table.merge"],
    "posts_pipeline.batch_s": ["posts_pipeline.batch", "edits.classify",
                               "crawl_compose.to_posts"],
    "nlp_job.similarity_s": ["nlp_job.similarity"],
    "nlp_job.summary_s": ["nlp_job.summary"],
    "nlp_job.metapost_s": ["nlp_job.metapost"],
    "training.analyze_s": ["training.analyze"],
    "training.exact_s": ["training.exact"],
    "training.minhash_pairs_s": ["training.minhash_pairs",
                                 "training.minhash_candidates"],
    "training.components_s": ["training.components"],
    "training.embed_near_dups_s": ["training.embed_near_dups"],
}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc every 0.5 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak_kb = 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(0.5):
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))

    def stop(self) -> float:
        self._halt.set()
        self.join()
        self.peak_kb = max(self.peak_kb, _tree_rss_kb(os.getpid()))
        return self.peak_kb / 1024


_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _tree_rss_kb(pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{d}/statm") as f:
                rss[int(d)] = int(f.read().split()[1]) * _PAGE_KB
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(d))
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, []))
    return total


def host_facts() -> dict:
    with open("/proc/meminfo") as f:
        mem = {line.split(":")[0]: int(line.split()[1]) for line in f}
    du = shutil.disk_usage(ROOT)
    return {"nproc": len(os.sched_getaffinity(0)),
            "mem_total_mb": mem["MemTotal"] // 1024,
            "mem_available_mb": mem["MemAvailable"] // 1024,
            "disk_free_mb": du.free // 2**20}


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests so far, summed over
    all CPUs: a run that gains much of it ran on a busy host."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def configure_env(work: str, host: dict) -> None:
    """Point every scratch path of Python, the JVM and Spark into ``work``
    and size the single local-mode JVM for the host."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(host["nproc"])
    # driver + executors share one JVM: a quarter of RAM, 2..8 GB
    gb = max(2, min(8, host["mem_total_mb"] // 4096))
    os.environ["SPARK_DRIVER_MEMORY"] = f"{gb}g"
    os.environ["SPARK_SUBMIT_OPTS"] = " ".join(
        p for p in (os.environ.get("SPARK_SUBMIT_OPTS"),
                    f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
                    "-XX:-UsePerfData") if p)


def start_spark(work: str, nproc: int):
    from scrapy_newsutils_spark.session import get_spark

    return get_spark(
        app_name="perfbench", master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={"spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000"})


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _op_walls(run) -> list[float]:
    """The ops ``op_p50_s`` takes the median of: timed epochs on
    crawl_scan, the NLP day job on news_day."""
    return run.ops.get("epoch") or run.ops.get("nlp_day") or []


def end_to_end(run, session_s: float) -> dict:
    ops = _op_walls(run)
    return {
        "setup_s": session_s + run.setup_s,
        "work_per_s": run.work / run.work_wall_s if run.work_wall_s else 0.0,
        "op_p50_s": statistics.median(ops) if ops else 0.0,
        "first_op_s": run.first_op_s,
        "e2e_s": run.e2e_s,
    }


def per_layer(run, tracer, spark, session_s: float, peak_mb: float,
              work: str, nproc: int) -> tuple[dict, list, list]:
    """Per-layer metrics of a traced run, plus the status store's jobs and
    stages. Values are per op: per epoch on crawl_scan, per day on
    news_day."""
    from perfbench import spans as S

    self_t = tracer.self_times()
    c = tracer.counts
    epochs = tracer.ops("epoch.run_epoch")
    n_ops = max(1, len(epochs))
    m = {k: 0.0 for k in PER_LAYER}
    m["session.start_s"] = session_s
    m["process.peak_rss_mb"] = peak_mb
    for k, names in SELF_TIME.items():
        m[k] = sum(self_t.get(n, 0.0) for n in names) / n_ops
    for k in ("frontier.rows_in", "frontier.rows_out", "dedup.probe_keys",
              "dedup.filter_builds", "fetch.payload_bytes", "parse.pages",
              "parse.outlinks", "snapshot_table.files_read", "edits.new"):
        m[k] = c.get(k, 0.0) / n_ops
    if c.get("dedup.filter_maybes"):
        m["dedup.exact_over_maybe"] = c["dedup.exact_maybes"] / c["dedup.filter_maybes"]
    if c.get("training.candidates"):
        m["training.pairs_verified_over_candidates"] = \
            c["training.pairs_verified"] / c["training.candidates"]
    eps = run.info.get("epochs", [])
    fresh = sum(e["popped"] - e["dedup_dropped"] for e in eps)
    if fresh:
        m["politeness.deferred_over_fresh"] = sum(e["deferred"] for e in eps) / fresh
    if run.ops.get("corpus"):
        m["training.corpus_s"] = run.ops["corpus"][0]
    m["snapshot_table.state_bytes"] = _du(work)

    jobs, stages = S.spark_stages(spark)
    # only stages the timed ops ran: not the session warm-up, set-up or checks
    ops = [(s["start"], s["end"]) for s in tracer.spans if s["parent"] is None]
    in_ops = [s for s in stages
              if s["start"] and any(lo <= s["start"] <= hi for lo, hi in ops)]
    for f in S.STAGE_FIELDS:
        m[f"spark.{f}"] = sum(s[f] for s in in_ops) / n_ops
    timed = epochs[1:]
    if timed:
        per = []
        for e in timed:
            lo, hi = e["start"], e["end"]
            wall = hi - lo
            inside = [s for s in stages if s["start"] and lo <= s["start"] <= hi]
            busy = S.union_len([(s["start"], s["end"]) for s in inside], lo, hi)
            per.append((sum(1 for j in jobs if j["start"] and lo <= j["start"] <= hi),
                        wall - busy,
                        sum(s["executor_run_s"] for s in inside) / (wall * nproc)))
        m["epoch.spark_jobs"] = statistics.median(p[0] for p in per)
        m["epoch.driver_only_s"] = statistics.median(p[1] for p in per)
        m["epoch.executor_busy_share"] = statistics.median(p[2] for p in per)
    op_walls = _op_walls(run)
    m["trace.op_p50_s"] = statistics.median(op_walls) if op_walls else 0.0
    overhead = tracer.total(S.OVERHEAD)
    m["trace.overhead_s"] = overhead / n_ops
    op_total = sum(s["end"] - s["start"] for s in tracer.spans
                   if s["name"].startswith(("epoch.", "news.")))
    m["trace.overhead_share"] = overhead / op_total if op_total else 0.0
    return m, jobs, stages


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(d, f)).st_size
            except OSError:
                pass
    return total


def watchdog(seconds: float, work: str) -> threading.Timer:
    """Abort a run that outlives ``seconds``: kill the JVM, drop the
    scratch state, exit 3 without printing a result."""
    def fire():
        from pyspark import SparkContext

        print(f"perfbench: run exceeded {seconds:.0f} s, aborting", file=sys.stderr)
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        os._exit(3)

    timer = threading.Timer(seconds, fire)
    timer.daemon = True
    timer.start()
    return timer


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[0] = ROOT  # the package root, not this script's directory
    try:
        import scrapy_newsutils_spark  # noqa: F401
        from perfbench import spans as S
        from perfbench import workloads as W
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    host = host_facts()
    steal0 = steal_s()
    work = os.path.join(RUN_DIR, f"{args.workload}-{args.seed}-{os.getpid()}")
    configure_env(work, host)
    timer = watchdog(DEADLINE_S, work)
    sampler = RssSampler()
    sampler.start()
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, host["nproc"])
        session_s = time.perf_counter() - t
        tracer = S.Tracer(spark) if args.trace else None
        restore = S.install(tracer) if tracer else None
        try:
            run = W.WORKLOADS[args.workload](
                spark, os.path.join(work, "state"), args.seed, args.seconds,
                tracer=tracer)
        finally:
            if restore:
                restore()
        if tracer:
            metrics, jobs, stages = per_layer(
                run, tracer, spark, session_s, sampler.peak_kb / 1024, work,
                host["nproc"])
            os.makedirs(OUT_DIR, exist_ok=True)
            with open(os.path.join(
                    OUT_DIR, f"trace-{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump({"spans": tracer.spans, "jobs": jobs, "stages": stages,
                           "counts": tracer.counts}, f)
        stop_spark(spark)
        spark = None
        peak_mb = sampler.stop()
        if not tracer:
            metrics = end_to_end(run, session_s)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        timer.cancel()

    units = PER_LAYER if args.trace else END_TO_END
    correct = not run.failures and run.failed == 0
    host["steal_s"] = round(steal_s() - steal0, 2)
    detail = {"host": host, "digest": run.digest, "failures": run.failures,
              "session_s": session_s, "inputs_s": run.setup_s,
              "peak_rss_mb": peak_mb,
              "ops": run.ops, **run.info}
    print(json.dumps({"perfbench": detail}, default=str))
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": units[k]}
                    for k in units}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
