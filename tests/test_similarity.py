"""TF-IDF similarity + banding + metapost aggregation semantics
(A1, J5/J6, W1, A2/A3) against small hand-checkable corpora and a numpy
oracle for the cosine math.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from scrapy_newsutils_spark import fixtures, schemas
from scrapy_newsutils_spark.operators import metapost, similarity, summarize


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "storm hits harbor city", "the storm damaged the harbor and the city market"),
        (2, "storm hits harbor town", "the storm damaged the harbor and the town market"),
        (3, "storm batters coast", "a storm battered the coast near the harbor"),
        (4, "league final tonight", "the football league final is played tonight"),
        (5, "league final recap", "the football league final ended in a draw"),
        (6, "quarterly trade report", "trade volumes rose in the quarterly report"),
    ]
    return spark.createDataFrame(rows, ["post_id", "title", "text"]).cache()


def _numpy_tfidf_cosine(docs: dict[int, str], max_df_ratio=0.5):
    """Oracle: smooth tf-idf + l2 norm + cosine, same formulas."""
    toks = {i: [t for t in txt.lower().split() if t] for i, txt in docs.items()}
    n = len(docs)
    vocab = sorted({t for ts in toks.values() for t in ts})
    df = {t: sum(t in set(ts) for ts in toks.values()) for t in vocab}
    vocab = [t for t in vocab if df[t] <= max(n * max_df_ratio, 1)]
    vecs = {}
    for i, ts in toks.items():
        v = np.zeros(len(vocab))
        for j, t in enumerate(vocab):
            tf = ts.count(t)
            if tf:
                v[j] = tf * (math.log((1 + n) / (1 + df[t])) + 1)
        nv = np.linalg.norm(v)
        vecs[i] = v / nv if nv else v
    out = {}
    ids = sorted(docs)
    for x in ids:
        for y in ids:
            if x < y:
                out[(x, y)] = float(vecs[x] @ vecs[y])
    return out


def test_cosine_pairs_match_numpy_oracle(spark, corpus):
    docs = {r["post_id"]: r["title"] + ". " + r["text"] for r in corpus.collect()}
    want = _numpy_tfidf_cosine(docs)
    vec = similarity.tfidf_vectors(corpus, "post_id", similarity.get_post_text())
    got = {(r["a"], r["b"]): r["score"]
           for r in similarity.cosine_pairs(vec).collect()}
    for pair, w in want.items():
        g = got.get(pair, 0.0)
        assert abs(g - w) < 1e-9, (pair, g, w)


def test_banding_disjoint_and_topn(spark, corpus):
    vec = similarity.tfidf_vectors(corpus, "post_id", similarity.get_post_text())
    edges = similarity.mirror_pairs(similarity.cosine_pairs(vec))
    banded = similarity.banded_top_n(edges, siblings_threshold=0.4,
                                     related_threshold=0.1, top_n=2)
    rows = banded.collect()
    for r in rows:
        if r["band"] == "siblings":
            assert r["score"] >= 0.4
        else:
            assert 0.1 <= r["score"] < 0.4
    # top-n per (src, band)
    from collections import Counter
    c = Counter((r["src"], r["band"]) for r in rows)
    assert all(v <= 2 for v in c.values())
    # docs 1 and 2 are near-identical → siblings both directions
    sib = {(r["src"], r["dst"]) for r in rows if r["band"] == "siblings"}
    assert (1, 2) in sib and (2, 1) in sib


def test_banding_subtract_after_topn(spark):
    """J6 distinguishing case (reference nlp.py:102-137 save_similarity +
    dictdiff): scores [.9,.8,.7,.3], top_n=2 → related candidates are the
    top-2 docs ≥ 0.2 — both already siblings — so related = [] after the
    subtract. Naive score-axis banding would wrongly emit related=[.3]."""
    edges = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7), (1, 13, 0.3)],
        "src long, dst long, score double")
    rows = similarity.banded_top_n(edges, 0.4, 0.2, 2).collect()
    bands = {r["dst"]: r["band"] for r in rows}
    assert bands == {10: "siblings", 11: "siblings"}


def test_banding_non_uniform_topn(spark):
    """Per-band top_n: a doc outside the sibling top-n but inside the wider
    related top-n lands in related (candidates_rel − candidates_sib)."""
    edges = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.8), (1, 12, 0.7), (1, 13, 0.3)],
        "src long, dst long, score double")
    rows = similarity.banded_top_n(
        edges, bands=[("siblings", 0.4, 2), ("related", 0.2, 4)]).collect()
    bands = {r["dst"]: r["band"] for r in rows}
    # 12 (score .7 ≥ .4) missed the sibling top-2 but is a related candidate
    assert bands == {10: "siblings", 11: "siblings",
                     12: "related", 13: "related"}


def test_similarity_lists_shape(spark, corpus):
    vec = similarity.tfidf_vectors(corpus, "post_id", similarity.get_post_text())
    edges = similarity.mirror_pairs(similarity.cosine_pairs(vec))
    banded = similarity.banded_top_n(edges, 0.4, 0.1, 2)
    lists = similarity.similarity_lists(banded)
    row = {r["post_id"]: r for r in lists.collect()}[1]
    sibs = [s["post_id"] for s in row["siblings"]]
    assert 2 in sibs
    scores = [s["score"] for s in row["siblings"]]
    assert scores == sorted(scores, reverse=True)


# -- day-local kernel vs the shuffle plan ----------------------------------------

def _tied_day(spark):
    """48 posts on 4 topics plus 8 exact duplicates (tied scores). Seeded so
    that scores fall just above and just below 0.2 and 0.4 but none within
    1e-9 of either, and most posts have more candidates than top_n."""
    rng = np.random.default_rng(5)
    topics = [[f"t{k}w{j}" for j in range(10)] for k in range(4)]
    filler = [f"f{j}" for j in range(120)]
    rows = []
    for i in range(48):
        words = list(rng.choice(topics[i % 4], size=int(rng.integers(3, 8)),
                                replace=False)) \
            + list(rng.choice(filler, size=int(rng.integers(4, 10))))
        rows.append((1000 + i, f"Story {words[0]}", " ".join(words)))
    rows += [(5000 + j, rows[j * 5][1], rows[j * 5][2]) for j in range(8)]
    return spark.createDataFrame(rows, ["post_id", "title", "text"])


def _assert_kernel_matches_shuffle_plan(docs, sib, rel, top_n=2):
    """Kernel lists == shuffle-plan lists: same ids, bands and order, scores
    within 1e-12. Where the plans pick different ids at one position, the
    kernel's id must score within 1e-12 of the plan's for that source (a
    tie, broken by last-bit summation order in Spark)."""
    text = similarity.get_post_text()
    vec = similarity.tfidf_vectors(docs, "post_id", text)
    half = similarity.cosine_pairs(vec).collect()
    true_score = {}
    for r in half:
        true_score[(r["a"], r["b"])] = true_score[(r["b"], r["a"])] = r["score"]
    want = {r["post_id"]: r for r in similarity.similarity_lists(
        similarity.banded_top_n(similarity.mirror_pairs(
            similarity.cosine_pairs(vec, min_score=rel)), sib, rel, top_n)
    ).collect()}
    got = {r["post_id"]: r for r in similarity.day_similarity_lists(
        docs, "post_id", text, F.lit(0), sib, rel, top_n).collect()}
    assert set(got) == {r["post_id"] for r in docs.select("post_id").collect()}
    assert set(want) <= set(got)
    for pid, g in got.items():
        for band in ("siblings", "related"):
            w_refs = want[pid][band] if pid in want else []
            g_refs = g[band]
            assert len(w_refs) == len(g_refs), (pid, band, w_refs, g_refs)
            for w, k in zip(w_refs, g_refs):
                assert abs(w["score"] - k["score"]) <= 1e-12, (pid, band)
                if w["post_id"] != k["post_id"]:
                    assert abs(true_score[(pid, k["post_id"])] - w["score"]) \
                        <= 1e-12, (pid, band, w_refs, g_refs)


def test_kernel_matches_shuffle_plan_on_corpus(spark, corpus):
    for sib, rel in [(0.4, 0.1), (similarity.SIBLINGS_THRESHOLD,
                                  similarity.RELATED_THRESHOLD)]:
        _assert_kernel_matches_shuffle_plan(corpus, sib, rel)


def test_kernel_matches_shuffle_plan_on_posts_batch(spark):
    docs = fixtures.posts_batch(spark).select("post_id", "title", "text").cache()
    _assert_kernel_matches_shuffle_plan(docs, 0.4, 0.2)
    docs.unpersist()


def test_kernel_matches_shuffle_plan_on_tied_edge_day(spark):
    docs = _tied_day(spark).cache()
    text = similarity.get_post_text()
    scores = np.array([r["score"] for r in similarity.cosine_pairs(
        similarity.tfidf_vectors(docs, "post_id", text)).collect()])
    for t in (0.2, 0.4):  # the edges are exercised, and none is ambiguous
        assert ((scores > t - 0.01) & (scores < t)).any()
        assert ((scores >= t) & (scores < t + 0.01)).any()
        assert np.abs(scores - t).min() > 1e-9
    _assert_kernel_matches_shuffle_plan(docs, 0.4, 0.2)
    lists = similarity.day_similarity_lists(docs, "post_id", text, F.lit(0))
    dup = {r["post_id"]: r for r in lists.collect()}[5000]  # copy of 1000
    assert dup["siblings"][0]["post_id"] == 1000
    assert dup["siblings"][0]["score"] == pytest.approx(1.0)
    docs.unpersist()


def test_kernel_empty_and_pruned_docs_get_empty_lists(spark):
    """A post whose every term is pruned (df > N·max_df_ratio) or that has
    no tokens gets empty lists, never NaN scores."""
    docs = spark.createDataFrame(
        [(i, "common words", "common words") for i in (1, 2, 3, 4)]
        + [(5, "storm harbor", "storm harbor city"),
           (6, "storm harbor", "storm harbor town"), (7, None, None)],
        "post_id long, title string, text string")
    got = {r["post_id"]: r for r in similarity.day_similarity_lists(
        docs, "post_id", similarity.get_post_text(), F.lit(0)).collect()}
    assert all(not got[i]["siblings"] and not got[i]["related"]
               for i in (1, 2, 3, 4, 7))
    assert [r["post_id"] for r in got[5]["siblings"]] == [6]
    assert not math.isnan(got[5]["siblings"][0]["score"])
    _assert_kernel_matches_shuffle_plan(docs, 0.4, 0.2)


def test_expand_refs_drops_dangling(spark, posts_with_siblings=None):
    posts = spark.createDataFrame(
        [(1, [(2, 0.9), (999, 0.5)]), (2, [(1, 0.9)])],
        "post_id long, siblings array<struct<post_id:long,score:double>>",
    )
    got = similarity.expand_refs(posts, "siblings")
    assert {r["post_id"] for r in got.collect()} == {1, 2}  # 999 dangling → gone


# -- A2/A3 metapost ------------------------------------------------------------

def test_metapost_aggregation(spark):
    posts = fixtures.posts_batch(spark)
    import datetime as dt
    day0 = dt.datetime(2024, 3, 1)
    with_sibs = posts.where(F.col("post_id").isin(1, 2, 3)).withColumn(
        "siblings",
        F.when(F.col("post_id") == 1, F.array(
            F.struct(F.lit(2).cast("long").alias("post_id"), F.lit(0.8).alias("score")),
            F.struct(F.lit(3).cast("long").alias("post_id"), F.lit(0.5).alias("score")),
        )).otherwise(F.array().cast("array<struct<post_id:long,score:double>>")),
    )
    mp = metapost.build_metaposts(with_sibs).collect()
    assert len(mp) == 1
    row = mp[0]
    assert row["leader_id"] == 1
    assert row["n_members"] == 3
    assert row["type"].startswith("metapost.")
    # version hash = md5 of member ids sorted by created_ts (1,2,3 in fixture order)
    want = hashlib.md5(b"123").hexdigest()
    assert row["version_hash"] == want
    assert row["link"].endswith(want)
    # top_image = highest-score member's (the leader itself, score 1.0)
    assert row["top_image"].endswith("/1.png")
    # union'd distinct images from all members
    assert len(row["images"]) == 3


def test_metapost_version_watermark(spark):
    """lookup_version: members created after start_time are excluded from
    the hash (nlp.py:241-249)."""
    import datetime as dt
    posts = fixtures.posts_batch(spark).where(F.col("post_id").isin(1, 2, 3))
    with_sibs = posts.withColumn(
        "siblings",
        F.when(F.col("post_id") == 1, F.array(
            F.struct(F.lit(2).cast("long").alias("post_id"), F.lit(0.8).alias("score")),
            F.struct(F.lit(3).cast("long").alias("post_id"), F.lit(0.5).alias("score")),
        )).otherwise(F.array().cast("array<struct<post_id:long,score:double>>")),
    )
    cutoff = dt.datetime(2024, 3, 1, 0, 2, 30)  # created_ts = day0 + i minutes
    row = metapost.build_metaposts(with_sibs, start_time=cutoff).first()
    assert row["version_hash"] == hashlib.md5(b"12").hexdigest()  # 3 excluded


def test_bool_and_documented_divergence(spark):
    """Engine folds booleans over actual member values (reference's &= from
    default-False makes the result constant-False — SURVEY §7)."""
    posts = fixtures.posts_batch(spark).where(F.col("post_id").isin(9, 18)) \
        .withColumn("is_draft", F.lit(True))
    with_sibs = posts.withColumn(
        "siblings",
        F.when(F.col("post_id") == 9, F.array(
            F.struct(F.lit(18).cast("long").alias("post_id"), F.lit(0.9).alias("score")))
        ).otherwise(F.array().cast("array<struct<post_id:long,score:double>>")),
    )
    assert metapost.build_metaposts(with_sibs).first()["is_draft"] is True


# -- U2 summarizer stubs ---------------------------------------------------------

def test_summary_stage_columns(spark, corpus):
    out = summarize.save_summary(
        corpus.withColumn("text", F.concat_ws(". ", "title", "text")))
    row = out.where(F.col("post_id") == 4).first()
    assert row["caption"] == "league final tonight."
    assert row["summary"].startswith("league final tonight.")
    assert row["category"] == "sports"


def test_summary_capacity_truncation():
    long = " ".join(["w"] * 5000) + "."
    assert len(summarize._truncate_words(long).split(" ")) == summarize.MAX_WORDS


def test_expand_related_multi_field_and_api_projection(spark):
    posts = spark.createDataFrame(
        [(1, [(2, 0.9)], [(3, 0.3), (999, 0.2)]),
         (2, [(1, 0.9)], []),
         (3, [], [])],
        "post_id long, siblings array<struct<post_id:long,score:double>>, "
        "related array<struct<post_id:long,score:double>>",
    )
    got = similarity.expand_related(posts).collect()
    edges = {(r["src"], r["post_id"], r["ref_field"]) for r in got}
    # both fields expanded; dangling 999 dropped
    assert (1, 2, "siblings") in edges and (1, 3, "related") in edges
    assert not any(e[1] == 999 for e in edges)

    api = similarity.api_projection(posts)
    assert "post_id" not in api.columns and "id" in api.columns
    assert {r["id"] for r in api.collect()} == {"1", "2", "3"}
