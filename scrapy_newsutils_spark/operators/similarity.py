"""TF-IDF all-pairs similarity + sibling/related banding (A1, J5, J6, W1).

Reference semantics: per-day corpus TF-IDF cosine
(reference nlp.py:64-74,117-137), per-post top-n ≥ threshold per band
(conf/mixins.py:86-104), bands processed in descending threshold order so
related = result − siblings (nlp.py:124-137); thresholds siblings .4 /
related .2, top_n = 2 (conf/posts.py:163-165).

Two plans compute the same lists. ``plans/nlp_job.py`` runs the kernel;
the shuffle plan is its test reference and the oracle pairs' plan.

Day-local kernel (``day_similarity_lists``): Spark tokenises
(``tokens_of``), then ONE groupBy(day).applyInPandas runs numpy over the
day — smooth idf with the same ``max_df_ratio`` prune, L2 norm, an
inverted-index sparse dot product in row blocks (no dense score block
above 2^22 cells), banding with the same (score DESC, dst ASC) rank order
and the lists in the stored (score DESC, dst DESC) order. One shuffle of
token arrays per day; scipy is not needed.

Shuffle plan (the DataFrame operators; ``plans/driver_queries.py`` calls
them for the oracle pairs):

  tokens → explode → (doc, term, tf) → join doc-freq agg → tf-idf weight
  → L2-normalize per doc → self-join on term → groupBy(pair) Σ products
  = cosine (sparse dot product; only term-sharing pairs ever materialize).

Every stage is a plain shuffle on term or pair keys — no crossJoin, no
driver-side matrix. Hot terms (stopword-like df ≈ N) are the skew risk at
scale: ``max_df_ratio`` prunes them (they carry ≈ zero idf weight anyway),
which bounds per-term join fan-out. The symmetric matrix is computed once
as (a < b) pairs then mirrored — the half-matrix TODO the reference never
shipped (nlp.py:113-114). Scores of the two plans agree to last-bit
summation order (within 1e-12); so do lists, except that candidates of one
post tied within 1e-12 may swap places.

Day-size sweep (``scripts/similarity_crossover.py``, seed 1, 4-vCPU host,
local[4], 4g JVM heap): one day of posts from the benchmark's article
generator (12 topics, 4000-word vocabulary, stop words), cached, then each
plan evaluated to (post_id, siblings, related) once; a plan still running
at 300 s is cancelled. Peak RSS is sampled for the JVM and for all Python
workers together.

  rows     kernel s  shuffle s  JVM peak MB k/s   Python workers MB k/s
  10^2       0.58       5.56      1453 / 1975        496 / 497
  10^3       0.64      10.85      2111 / 2530        499 / 499
  10^4       7.19     279.39      2561 / 4894        760 / 572
  10^5     >300       >300       4429 / 4912       1351 / 1082

(>300: cancelled at the limit.) The kernel wins at every size that
finished, and its lead grows with the day (9.6×, 17×, 39×). No size was
found at which the shuffle plan is faster, or finishes where the kernel
does not; its JVM peak is the higher one at every size. So there is no
crossover, and ``save_day`` has no shuffle-plan branch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import tokens_of

SIBLINGS_THRESHOLD = 0.4
RELATED_THRESHOLD = 0.2
MAX_DOCS = 2
_REFS = "array<struct<post_id:long,score:double>>"

# Dense score cells per kernel block (2^22 float64 = 32 MB) and pair
# products per block (each product costs ~5 int64/float64 temporaries).
_BLOCK_CELLS = 1 << 22
_BLOCK_PRODUCTS = 1 << 22


def get_post_text(title: str = "title", text: str = "text") -> F.Column:
    """Reference corpus-text strategy: title + '. ' + body
    (/root/reference/src/newsutils/conf/mixins.py:135-154 — add_fullstop on
    the title, then concatenation)."""
    t = F.col(title)
    dotted = F.when(t.rlike(r"[.!?…]\s*$"), t).otherwise(F.concat(t, F.lit(".")))
    return F.concat_ws(" ", dotted, F.col(text))


def tfidf_vectors(docs: DataFrame, id_col: str, text_col,
                  max_df_ratio: float = 0.5) -> DataFrame:
    """(id, term, weight) with L2-normalized smooth tf-idf weights
    (tf · (ln((1+N)/(1+df)) + 1), sklearn-style smoothing — the reference's
    TfidfVectorizer is external, semantics inferred from call sites)."""
    n_docs = docs.count()
    terms = (
        docs.select(F.col(id_col).alias("doc"), text_col.alias("_text"))
        .select("doc", F.explode(tokens_of(F.col("_text"))).alias("term"))
        .groupBy("doc", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_counts = terms.groupBy("term").agg(F.countDistinct("doc").alias("df"))
    if max_df_ratio < 1.0:
        df_counts = df_counts.where(F.col("df") <= int(max(n_docs * max_df_ratio, 1)))
    weighted = terms.join(df_counts, "term").withColumn(
        "w",
        F.col("tf")
        * (F.log((F.lit(1.0) + n_docs) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)),
    )
    norms = weighted.groupBy("doc").agg(F.sqrt(F.sum(F.col("w") ** 2)).alias("norm"))
    return (
        weighted.join(norms, "doc")
        .select("doc", "term", (F.col("w") / F.col("norm")).alias("weight"))
    )


def cosine_pairs(vectors: DataFrame, min_score: float = 0.0) -> DataFrame:
    """Sparse all-pairs cosine: (a, b, score) with a < b, score ≥ min_score."""
    left = vectors.select(F.col("doc").alias("a"), "term",
                          F.col("weight").alias("wa"))
    right = vectors.select(F.col("doc").alias("b"), "term",
                           F.col("weight").alias("wb"))
    pairs = (
        left.join(right, "term")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("score"))
    )
    return pairs.where(F.col("score") >= min_score)


def mirror_pairs(half: DataFrame) -> DataFrame:
    """(a<b) half-matrix → full directed edge list (src, dst, score)."""
    fwd = half.select(F.col("a").alias("src"), F.col("b").alias("dst"), "score")
    rev = half.select(F.col("b").alias("src"), F.col("a").alias("dst"), "score")
    return fwd.unionByName(rev)


def banded_top_n(edges: DataFrame,
                 siblings_threshold: float = SIBLINGS_THRESHOLD,
                 related_threshold: float = RELATED_THRESHOLD,
                 top_n: int = MAX_DOCS,
                 bands: list[tuple[str, float, int]] | None = None) -> DataFrame:
    """Assign each directed edge a band and keep the reference's per-band
    doc sets (J6).

    Reference semantics (nlp.py:102-137 ``save_similarity`` + ``dictdiff``,
    conf/mixins.py:86-104): per band in DESCENDING threshold order, the
    band's candidate set is the top-n docs among *all* edges with
    score ≥ that band's threshold — so a high-score doc is a candidate for
    every band — and the stored set is candidates minus the union of all
    higher bands' stored sets (``overlap=False``). By induction that union
    equals the union of higher bands' *candidate* sets, so:

        row ∈ band_i  ⟺  row ∈ candidates_i  ∧  row ∉ candidates_h ∀ h < i

    Single-window plan: because edges with score ≥ t_i form a prefix of the
    (score DESC, dst ASC) order, a row's rank among the ≥ t_i subset equals
    its global rank — one row_number() window evaluates every band's
    candidate test, no per-band shuffles and no array_except join-back.

    The distinguishing case vs naive score-axis banding: scores
    [.9, .8, .7, .3] with top_n=2 → siblings=[.9, .8], related=[] (the
    reference subtracts the sibling candidates [.9, .8] from the related
    candidates [.9, .8]); score-axis banding would wrongly emit
    related=[.3]. Oracle-verified by the ``similarity_bands`` driver query.
    """
    if bands is None:
        bands = [("siblings", siblings_threshold, top_n),
                 ("related", related_threshold, top_n)]
    bands = sorted(bands, key=lambda b: -b[1])  # W4: desc threshold order
    min_t = bands[-1][1]
    w = Window.partitionBy("src").orderBy(F.col("score").desc(),
                                          F.col("dst").asc())
    ranked = (
        edges.where(F.col("score") >= min_t)
        .withColumn("rank", F.row_number().over(w))
    )
    band_col = F.lit(None).cast("string")
    expr = None
    for name, t, n in bands:
        cond = (F.col("score") >= t) & (F.col("rank") <= n)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    band_col = expr.otherwise(F.lit(None))
    return (
        ranked.withColumn("band", band_col)
        .where(F.col("band").isNotNull())
        .drop("rank")
    )


def similarity_lists(banded: DataFrame) -> DataFrame:
    """Collapse banded edges to per-post siblings/related array<struct>
    columns (the Post schema's storage shape, SURVEY §1.2)."""
    per_band = (
        banded.groupBy("src", "band")
        .agg(
            F.transform(
                F.sort_array(
                    F.collect_list(F.struct(F.col("score"), F.col("dst"))), asc=False
                ),
                lambda s: F.struct(s["dst"].alias("post_id"), s["score"].alias("score")),
            ).alias("refs")
        )
    )
    return (
        per_band.groupBy("src")
        .pivot("band", ["siblings", "related"])
        .agg(F.first("refs"))
        .select(
            F.col("src").alias("post_id"),
            F.coalesce("siblings", F.array().cast(_REFS)).alias("siblings"),
            F.coalesce("related", F.array().cast(_REFS)).alias("related"),
        )
    )


def expand_refs(posts: DataFrame, refs_col: str = "siblings") -> DataFrame:
    """J4: stored {post_id, score} refs back to full rows; dangling refs
    drop out via the inner join (/root/reference/src/newsutils/nlp.py:343-362)."""
    edges = posts.select(
        F.col("post_id").alias("src"), F.explode(refs_col).alias("ref")
    ).select("src", F.col("ref.post_id").alias("post_id"), F.col("ref.score").alias("score"))
    return edges.join(posts, "post_id", "inner")


def expand_related(posts: DataFrame,
                   fields: tuple[str, ...] = ("siblings", "related")) -> DataFrame:
    """The full ``expand_related`` round-trip (nlp.py:343-362) over every
    refs field at once: (src, ref_field, score, <referred post row>) — the
    reference returns [(Post, stored-ref)] pairs per field; the engine
    returns the union with ``ref_field`` tagging which list the edge came
    from. Dangling refs drop out (inner join), matching the reference's
    next(filter(...), None) skip."""
    out = None
    for f_name in fields:
        part = expand_refs(posts, f_name).withColumn("ref_field", F.lit(f_name))
        out = part if out is None else out.unionByName(part)
    return out


def api_projection(posts: DataFrame, id_col: str = "post_id") -> DataFrame:
    """F6, the API-edge shape (``Post.asdict``, conf/post_item.py:74-78):
    the storage id column re-emitted as a STRING ``id`` and dropped —
    consumers never see the engine's 64-bit key, exactly as the reference
    hides Mongo's ``_id``."""
    return posts.withColumn("id", F.col(id_col).cast("string")).drop(id_col)


# -- day-local kernel -------------------------------------------------------------


def day_cosine_pairs(ids: np.ndarray, tokens, min_score: float,
                     max_df_ratio: float = 0.5):
    """numpy twin of ``tfidf_vectors`` → ``cosine_pairs`` over one day:
    (docs, a, b, score) with ``docs`` the sorted distinct ids and (a, b)
    indices into it, a < b, score ≥ ``min_score`` among term-sharing pairs.

    Same weights as the DataFrame plan: N = rows, smooth idf, the
    ``df <= int(max(N·max_df_ratio, 1))`` prune, L2 norm. The dot product
    walks an inverted index: each (doc, term) entry meets only the later
    docs of its term's posting list, so every pair is summed once. Rows are
    processed in blocks of at most ``_BLOCK_PRODUCTS`` products whose dense
    score block (rows × later docs) holds at most ``_BLOCK_CELLS`` cells."""
    n_rows = len(ids)
    tokens = [() if t is None else t for t in tokens]
    docs, row_doc = np.unique(np.asarray(ids, dtype=np.int64),
                              return_inverse=True)
    n_docs = len(docs)
    lens = np.fromiter((len(t) for t in tokens), dtype=np.int64, count=n_rows)
    empty = (docs, np.zeros(0, np.int64), np.zeros(0, np.int64),
             np.zeros(0, np.float64))
    if lens.sum() == 0:
        return empty
    codes, vocab = pd.factorize(np.concatenate([np.asarray(t, dtype=object)
                                                for t in tokens]))
    n_terms = len(vocab)
    # (doc, term) entries sorted by doc then term, with their tf
    key, tf = np.unique(np.repeat(row_doc, lens) * n_terms + codes,
                        return_counts=True)
    dd, tt = key // n_terms, key % n_terms
    df = np.bincount(tt, minlength=n_terms)
    if max_df_ratio < 1.0:
        keep = df[tt] <= int(max(n_rows * max_df_ratio, 1))
        dd, tt, tf = dd[keep], tt[keep], tf[keep]
    if len(dd) == 0:
        return empty
    w = tf * (np.log((1.0 + n_rows) / (1.0 + df[tt])) + 1.0)
    w = w / np.sqrt(np.bincount(dd, weights=w * w, minlength=n_docs))[dd]

    # inverted index: entries in (term, doc) order; an entry's later docs
    # are the rest of its posting list
    order = np.argsort(tt, kind="stable")
    post_doc, post_w = dd[order], w[order]
    pos = np.empty_like(order)
    pos[order] = np.arange(len(order))
    term_end = np.cumsum(np.bincount(tt, minlength=n_terms))
    later = term_end[tt] - pos - 1
    doc_start = np.searchsorted(dd, np.arange(n_docs + 1))
    cum_products = np.concatenate(
        [[0], np.cumsum(np.bincount(dd, weights=later, minlength=n_docs))])

    out_a, out_b, out_s = [], [], []
    r0 = 0
    while r0 < n_docs - 1:
        width = n_docs - r0 - 1              # docs r0+1 .. n_docs-1
        r1 = min(r0 + max(1, _BLOCK_CELLS // width), n_docs,
                 int(np.searchsorted(cum_products,
                                     cum_products[r0] + _BLOCK_PRODUCTS,
                                     side="right")) - 1)
        r1 = max(r1, r0 + 1)
        e0, e1 = doc_start[r0], doc_start[r1]
        m = later[e0:e1]
        total = int(m.sum())
        if total:
            idx = np.repeat(pos[e0:e1] + 1 - (np.cumsum(m) - m), m) \
                + np.arange(total)
            cell = np.repeat((dd[e0:e1] - r0) * width - r0 - 1, m) + post_doc[idx]
            score = np.bincount(cell, weights=np.repeat(w[e0:e1], m) * post_w[idx],
                                minlength=(r1 - r0) * width)
            # only term-sharing pairs exist in the DataFrame plan; their
            # score is > 0 because every weight is
            hit = np.flatnonzero((score >= min_score) & (score > 0))
            out_a.append(hit // width + r0)
            out_b.append(hit % width + r0 + 1)
            out_s.append(score[hit])
        r0 = r1
    if not out_a:
        return empty
    return (docs, np.concatenate(out_a), np.concatenate(out_b),
            np.concatenate(out_s))


def day_band_lists(n_docs: int, a: np.ndarray, b: np.ndarray,
                   score: np.ndarray, bands: list[tuple[str, float, int]]):
    """``mirror_pairs`` → ``banded_top_n`` → ``similarity_lists`` over
    index pairs: per band, per doc (dst indices, scores) in stored order."""
    src = np.concatenate([a, b])
    dst = np.concatenate([b, a])
    sc = np.concatenate([score, score])
    keep = sc >= bands[-1][1]
    src, dst, sc = src[keep], dst[keep], sc[keep]
    o = np.lexsort((dst, -sc, src))          # rank order (score DESC, dst ASC)
    src, dst, sc = src[o], dst[o], sc[o]
    first = np.searchsorted(src, src)        # start of each src's run
    rank = np.arange(len(src)) - first
    band = np.full(len(src), -1)
    for k in range(len(bands) - 1, -1, -1):  # first matching band wins
        band[(sc >= bands[k][1]) & (rank < bands[k][2])] = k
    out = []
    for k in range(len(bands)):
        sel = band == k
        s_, d_, c_ = src[sel], dst[sel], sc[sel]
        o = np.lexsort((-d_, -c_, s_))       # stored order (score DESC, dst DESC)
        s_, d_, c_ = s_[o], d_[o], c_[o]
        cuts = np.searchsorted(s_, np.arange(1, n_docs))
        out.append((np.split(d_, cuts), np.split(c_, cuts)))
    return out


def _day_lists_fn(bands: list[tuple[str, float, int]], max_df_ratio: float):
    def lists(pdf: pd.DataFrame) -> pd.DataFrame:
        docs, a, b, score = day_cosine_pairs(
            pdf["_id"].to_numpy(), pdf["_tokens"].to_numpy(), bands[-1][1],
            max_df_ratio)
        out = {"post_id": docs}
        for (name, _, _), (dst, sc) in zip(
                bands, day_band_lists(len(docs), a, b, score, bands)):
            out[f"_{name}_ids"] = [docs[d] for d in dst]
            out[f"_{name}_scores"] = sc
        return pd.DataFrame(out)

    return lists


def day_similarity_lists(docs: DataFrame, id_col: str, text_col, day_col,
                         siblings_threshold: float = SIBLINGS_THRESHOLD,
                         related_threshold: float = RELATED_THRESHOLD,
                         top_n: int = MAX_DOCS,
                         max_df_ratio: float = 0.5) -> DataFrame:
    """The day-local kernel: (post_id, siblings, related) for every distinct
    id, the result of ``tfidf_vectors`` → ``cosine_pairs`` → ``mirror_pairs``
    → ``banded_top_n`` → ``similarity_lists`` computed per ``day_col`` group
    by one numpy pass (``day_cosine_pairs`` + ``day_band_lists``) in one
    ``groupBy(day).applyInPandas``: one shuffle of the day's token arrays
    instead of about ten shuffles. Tokens come from Spark's ``tokens_of``,
    so tokenisation is the DataFrame plan's. A doc with no kept term gets
    empty lists."""
    bands = sorted([("siblings", siblings_threshold, top_n),
                    ("related", related_threshold, top_n)], key=lambda b: -b[1])
    names = [n for n, _, _ in bands]
    schema = ", ".join(["post_id long"] + [
        f"_{n}_ids array<long>, _{n}_scores array<double>" for n in names])
    lists = docs.select(
        day_col.alias("_day"), F.col(id_col).alias("_id"),
        tokens_of(text_col).alias("_tokens"),
    ).groupBy("_day").applyInPandas(_day_lists_fn(bands, max_df_ratio), schema)
    return lists.select("post_id", *[
        F.zip_with(f"_{n}_ids", f"_{n}_scores",
                   lambda d, s: F.struct(d.alias("post_id"), s.alias("score"))
                   ).cast(_REFS).alias(n)
        for n in ("siblings", "related")])
