"""Tests of the benchmark itself, at a small size.

    python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)

from perfbench import gen, run, spans, workloads  # noqa: E402

SMALL_CRAWL = {"rows": 3000, "images": 100, "top_k": 5, "fanout": 2,
               "compact_every": 2, "min_timed": 1, "digest_epochs": 2}


@pytest.fixture(scope="module")
def spark():
    from scrapy_newsutils_spark.session import get_spark

    return get_spark(app_name="perfbench-tests", master="local[2]",
                     shuffle_partitions=2)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_generators_are_deterministic_per_seed(spark):
    fr = [gen.frontier(spark, 500, s, 50) for s in (7, 7, 8)]
    assert _rows(fr[0]) == _rows(fr[1]) != _rows(fr[2])
    assert _rows(gen.url_seen(fr[0], 7)) == _rows(gen.url_seen(fr[1], 7))
    assert _rows(gen.images(spark, 20, 7)) == _rows(gen.images(spark, 20, 7))
    assert _rows(gen.robots(spark, 7)) == _rows(gen.robots(spark, 7))
    w = [gen.news_world(30, s) for s in (7, 7, 8)]
    assert w[0] == w[1] and w[0].html != w[2].html
    c = [gen.corpus(w[0], 7, 100) for _ in range(2)]
    assert c[0].dups.equals(c[1].dups)
    assert c[0].vectors["embedding"].map(list).equals(c[1].vectors["embedding"].map(list))


def test_frontier_has_hot_host_skew_and_preseen_share(spark):
    fr = gen.frontier(spark, 20_000, 3, 100).cache()
    hot = fr.where(fr.host.isin(*gen.HOT_HOSTS)).count() / 20_000
    seen = gen.url_seen(fr, 3).count() / 20_000
    assert 0.37 < hot < 0.43 and 0.08 < seen < 0.12


def test_store_and_exact_modes_agree_and_repeat(spark, tmp_path):
    """Crawl order and URL-seen membership are exact: the store-mode filter
    and the exact anti-join give the same digest, and a second store-mode
    run on the same seed repeats it."""
    runs = [workloads.crawl_scan(spark, str(tmp_path / name), 11, 0,
                                 size=SMALL_CRAWL, mode=mode)
            for name, mode in (("a", "store"), ("b", "exact"), ("c", "store"))]
    for r in runs:
        assert not r.failures and r.failed == 0
        assert len(r.info["epochs"]) >= 2 and r.info["compactions"] >= 1
    assert runs[0].digest == runs[1].digest == runs[2].digest


def test_self_time_subtracts_the_union_of_child_spans():
    tr = spans.Tracer(SimpleNamespace(sparkContext=None))
    tr.spans = [
        {"id": 1, "name": "op", "parent": None, "start": 0.0, "end": 10.0},
        # two overlapping children on parallel threads cover [1, 6]
        {"id": 2, "name": "a", "parent": 1, "start": 1.0, "end": 5.0},
        {"id": 3, "name": "a", "parent": 1, "start": 2.0, "end": 6.0},
        {"id": 4, "name": "b", "parent": 3, "start": 3.0, "end": 4.0},
    ]
    st = tr.self_times()
    assert st["op"] == 5.0 and st["a"] == 4.0 + 3.0 and st["b"] == 1.0


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    r = workloads.Run(setup_s=1.0, ops={"epoch": [2.0]}, work=10,
                      work_wall_s=2.0, first_op_s=3.0, e2e_s=5.0)
    assert set(run.end_to_end(r, 4.0)) == set(run.END_TO_END)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "crawl_scan",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0 and p.stdout == ""
