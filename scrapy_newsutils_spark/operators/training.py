"""Training-data pipeline operators over the documents/embeddings corpora:
deduplication (exact, MinHash-LSH, SimHash, n-gram Jaccard, embedding
cosine), similarity search (brute-force + LSH-bucketed ANN), text analysis.

These are first-class engine components beyond the reference's own surface
(the build brief makes them part of the 100 TB story). Everything is
DataFrame-first; Python appears only in the Arrow-batched ANN kernel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import hashing as H
from ..functions import text as TX


# ---------------------------------------------------------------------------
# deduplication

def dedup_exact(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact dedup on the normalization-stable fingerprint: keeps the
    lowest-id representative per group (deterministic winner)."""
    fp = docs.withColumn("fp", TX.fingerprint(F.col(text_col)))
    w = Window.partitionBy("fp").orderBy(F.col(id_col).asc())
    return (
        fp.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_exact_groups(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """(fp, n_dups, keeper_id) for every duplicate group of size > 1."""
    fp = docs.withColumn("fp", TX.fingerprint(F.col(text_col)))
    return (
        fp.groupBy("fp")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("keeper_id"))
        .where(F.col("n_dups") > 1)
    )


def minhash_lsh_candidates(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", k_shingle: int = 3,
                           num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """MinHash+LSH near-dup candidate pairs (a < b, both ids).

    shingle → minhash (md5-family, oracle-replicable) → band → bucket
    self-join. The join key is the band bucket hash, so only same-bucket
    docs ever pair — the shuffle is on bucket keys, never all-pairs.

    Plan shape: exploded, not nested column expressions. A single-Project
    formulation (array_min(transform(shingles, md5)) × hashes × bands)
    re-evaluates the shingle/tokenize subtree per hash per band — a ~64×
    expression blowup Catalyst does not CSE across higher-order functions
    (measured 160 s vs 3 s on 520 docs). Exploding to (doc, shingle, i)
    rows gives one md5 per row, map-side partial min aggregation, and
    shuffles only on (doc, i) / bucket keys — the shape that survives a
    100 TB corpus.
    """
    rows = num_hashes // bands
    sh = docs.select(
        F.col(id_col).alias("doc"),
        F.explode(H.shingles(F.col(text_col), k=k_shingle)).alias("sh"),
    )
    hashed = sh.select(
        "doc",
        F.explode(F.array(*[F.lit(i) for i in range(num_hashes)])).alias("i"),
        "sh",
    ).select("doc", "i", F.md5(F.concat(F.col("i").cast("string"), F.lit("|"),
                                        F.col("sh"))).alias("h"))
    sig = hashed.groupBy("doc", "i").agg(F.min("h").alias("mh"))
    buckets = (
        sig.withColumn("band", F.floor(F.col("i") / rows).cast("int"))
        .groupBy("doc", "band")
        .agg(
            F.md5(F.concat_ws("|", F.transform(
                F.sort_array(F.collect_list(F.struct("i", "mh"))),
                lambda s: s["mh"],
            ))).alias("bh")
        )
        .select("doc", F.concat(F.lit("b"), F.col("band").cast("string"),
                                F.lit(":"), F.col("bh")).alias("bucket"))
    )
    a = buckets.select(F.col("doc").alias("a"), "bucket")
    b = buckets.select(F.col("doc").alias("b"), "bucket")
    return (
        a.join(b, "bucket")
        .where(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )


def minhash_near_dups(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", k_shingle: int = 3,
                      jaccard_min: float = 0.6, **lsh_kw) -> DataFrame:
    """LSH candidates verified by exact shingle Jaccard ≥ threshold.
    Returns (a, b, jaccard) — the standard candidate-then-verify shape."""
    cands = minhash_lsh_candidates(docs, id_col, text_col, k_shingle, **lsh_kw)
    sh = docs.select(F.col(id_col).alias("doc"),
                     H.shingles(F.col(text_col), k=k_shingle).alias("sh"))
    joined = (
        cands.join(sh.select(F.col("doc").alias("a"), F.col("sh").alias("sh_a")), "a")
        .join(sh.select(F.col("doc").alias("b"), F.col("sh").alias("sh_b")), "b")
    )
    return (
        joined.withColumn("jaccard", F.round(H.jaccard(F.col("sh_a"), F.col("sh_b")), 6))
        .where(F.col("jaccard") >= jaccard_min)
        .select("a", "b", "jaccard")
    )


def simhash_near_dups(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", max_hamming: int = 7,
                      n_blocks: int = 8,
                      hash_family: str = "xx") -> DataFrame:
    """SimHash near-dup pairs: 64-bit signatures, Manku-style multi-block
    blocking — split the signature into ``n_blocks`` bit-blocks; two sigs
    within hamming < n_blocks share at least one identical block
    (pigeonhole), so same-block bucketing is EXACT for hamming ≤ n_blocks−1.
    Candidates verify with bit_count. Shuffles only on (block_idx, block
    value) bucket keys — never all-pairs.

    ``hash_family``: 'xx' = xxhash64 token hashes (fast path); 'md5' =
    md5-hex token hashes, bit-replicable in DuckDB so the driver oracle
    checks rows + schema + values (the blocking/verify plan is shared —
    the family only swaps the token-hash expression)."""
    bits = 64 // n_blocks
    sig_fn = (H.simhash_signatures_md5 if hash_family == "md5"
              else H.simhash_signatures)
    sig = sig_fn(docs, id_col, text_col).withColumnRenamed(id_col, "doc")
    blocked = sig.select(
        "doc", "sig",
        F.explode(F.array(*[
            F.struct(
                F.lit(i).alias("block_idx"),
                F.shiftrightunsigned(F.col("sig"), i * bits)
                .bitwiseAND(F.lit((1 << bits) - 1)).alias("block_val"),
            )
            for i in range(n_blocks)
        ])).alias("blk"),
    ).select("doc", "sig", "blk.block_idx", "blk.block_val")
    a = blocked.select(F.col("doc").alias("a"), F.col("sig").alias("sig_a"),
                       "block_idx", "block_val")
    b = blocked.select(F.col("doc").alias("b"), F.col("sig").alias("sig_b"),
                       "block_idx", "block_val")
    return (
        a.join(b, ["block_idx", "block_val"])
        .where(F.col("a") < F.col("b"))
        .select("a", "b",
                H.hamming64(F.col("sig_a"), F.col("sig_b")).cast("int").alias("hamming"))
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 3,
                        jaccard_min: float = 0.5,
                        prefix_filter: bool = True) -> DataFrame:
    """Exact n-gram Jaccard pairs ≥ threshold, never all-pairs.

    ``prefix_filter=True`` (default, the scale path): AllPairs/PPJoin prefix
    filtering — shingles get a global total order (df ASC, shingle ASC); each
    doc indexes only its first ``⌊(1−t)·n⌋ + 1`` shingles under that order.
    Any pair with Jaccard ≥ t provably shares a prefix shingle (Bayardo et
    al., WWW'07), so candidate generation is EXACT, and a stopword-grade hot
    shingle (df ≈ N) sorts last in every doc's order — it enters a prefix
    only for docs small enough that the prefix covers everything, which
    bounds the per-shingle join fan-out that made the unfiltered inverted
    index quadratic on hot keys. Candidates then verify with full-array
    Jaccard (arrays are distinct by construction in ``H.shingles``).

    ``prefix_filter=False``: the plain inverted index — every shingle
    indexed, |∩| counted from the index itself (no array join). Same output;
    hot-shingle skew unbounded. Kept for the oracle cross-check.
    """
    sh = docs.select(F.col(id_col).alias("doc"),
                     H.shingles(F.col(text_col), k=k).alias("sh"))
    sizes = sh.select("doc", F.size("sh").alias("n"))
    inv = sh.select("doc", F.explode("sh").alias("shingle"))
    if prefix_filter:
        df_counts = inv.groupBy("shingle").agg(F.count("*").alias("_df"))
        w = Window.partitionBy("doc").orderBy(F.col("_df").asc(),
                                              F.col("shingle").asc())
        prefix_len = (F.floor(F.lit(1.0 - jaccard_min) * F.col("n")) + 1).cast("int")
        pref = (
            inv.join(df_counts, "shingle")
            .join(sizes, "doc")
            .withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") <= prefix_len)
            .select("doc", "shingle")
        )
        cands = (
            pref.select(F.col("doc").alias("a"), "shingle")
            .join(pref.select(F.col("doc").alias("b"), "shingle"), "shingle")
            .where(F.col("a") < F.col("b"))
            .select("a", "b")
            .distinct()
        )
        joined = (
            cands.join(sh.select(F.col("doc").alias("a"), F.col("sh").alias("sh_a")), "a")
            .join(sh.select(F.col("doc").alias("b"), F.col("sh").alias("sh_b")), "b")
        )
        return (
            joined.withColumn(
                "jaccard", F.round(H.jaccard(F.col("sh_a"), F.col("sh_b")), 6))
            .where(F.col("jaccard") >= jaccard_min)
            .select("a", "b", "jaccard")
        )
    a = inv.select(F.col("doc").alias("a"), "shingle")
    b = inv.select(F.col("doc").alias("b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count("*").alias("n_inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc").alias("b"), F.col("n").alias("nb")), "b")
        .withColumn("jaccard",
                    F.round(F.col("n_inter") /
                            (F.col("na") + F.col("nb") - F.col("n_inter")), 6))
        .where(F.col("jaccard") >= jaccard_min)
        .select("a", "b", "jaccard")
    )


# ---------------------------------------------------------------------------
# duplicate clustering: pairs → components → canonical keeper

LOCAL_CC_MAX_EDGES = 100_000


def _local_components(spark, edge_rows) -> DataFrame:
    """Union-find over a collected edge list (≤ LOCAL_CC_MAX_EDGES × two
    longs — a 'tiny aggregate' by the engine's driver-collect budget).
    Roots are kept as the minimum member id, so the output is identical to
    the distributed fixpoint: (node, component=min reachable id)."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    for u, v in edge_rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            hi, lo = (ru, rv) if ru > rv else (rv, ru)
            parent[hi] = lo
    nodes = set()
    for u, v in edge_rows:
        nodes.add(u)
        nodes.add(v)
    out = [(n, find(n)) for n in sorted(nodes)]
    return spark.createDataFrame(out, "node long, component long")


def connected_components(pairs: DataFrame, a_col: str = "a",
                         b_col: str = "b", max_iter: int = 30,
                         local_max_edges: int | None = None) -> DataFrame:
    """(node, component) for every node appearing in ``pairs``; component =
    the minimum node id reachable from it. Transitive closure of the
    near-dup relation: A≈B and B≈C must dedup as ONE group even when A≉C
    directly, so pairwise output alone under-deduplicates.

    Alternating large-star/small-star (Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14): converges in O(log n)
    rounds — NOT min-label propagation, whose round count is the graph
    DIAMETER (a 10^6-long chain of near-dups takes 10^6 rounds; real crawl
    corpora contain exactly such template chains). Every round is two
    groupBy-min shuffles on node keys; lineage is cut per round with
    localCheckpoint (a checkpoint dir on a real cluster) so the plan does
    not grow with iterations. Convergence = canonical edge-set (count,
    xxhash64-sum) fixpoint — a content check, not a plan diff.

    Scale-adaptive gate (guide §1.2 'the distributed algorithm' + the
    accepted tiny-collect budget): after the canonical edge set is
    materialized, if it holds ≤ ``local_max_edges`` edges (default
    LOCAL_CC_MAX_EDGES = 1e5 ≈ 1.6 MB of longs) the fixpoint is solved as
    one driver-side union-find instead of O(log n) rounds of 2-action
    Spark jobs — each distributed round costs ~1 s of scheduling on a
    graph this small while the union-find is microseconds. Same output by
    construction (min-id roots); parity-tested both paths in
    test_training_ops. Larger graphs take the distributed rounds
    unchanged.
    """
    if local_max_edges is None:
        local_max_edges = LOCAL_CC_MAX_EDGES
    E = (pairs.select(F.col(a_col).cast("long").alias("u"),
                      F.col(b_col).cast("long").alias("v"))
         .where(F.col("u") != F.col("v"))
         .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
         .distinct())

    def _sig(e: DataFrame) -> tuple:
        # decimal sum: exact and overflow-free under ANSI (long sum of
        # 64-bit hashes overflows)
        r = e.agg(F.count("*").alias("n"),
                  F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")).alias("h")
                  ).first()
        return (r["n"], r["h"])

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.select("u", "v").unionAll(
            e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        return (sym.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .where(F.col("u") != F.col("v"))
                .distinct())

    def small_star(e: DataFrame) -> DataFrame:
        # input edges canonical (u > v); per u: m = min neighbor, link
        # u and every other neighbor to m. Agg + join-back, never a
        # collect_set: a hot node's neighborhood stays rows, not one array.
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        self_e = mins.select("u", F.col("m").alias("v"))
        nbr_e = (e.join(mins, "u")
                 .where(F.col("v") != F.col("m"))
                 .select(F.col("v").alias("u"), F.col("m").alias("v")))
        return self_e.unionAll(nbr_e).distinct()

    E = E.localCheckpoint(eager=True)
    if local_max_edges > 0:
        # one job decides AND fetches: ≤ local_max_edges rows collect, one
        # extra row proves the graph is over the gate (no separate count)
        head = E.limit(local_max_edges + 1).collect()
        if len(head) <= local_max_edges:
            return _local_components(pairs.sparkSession,
                                     [(r["u"], r["v"]) for r in head])
    sig = _sig(E)
    for _ in range(max_iter):
        E = small_star(large_star(E)).localCheckpoint(eager=True)
        new_sig = _sig(E)
        if new_sig == sig:
            break
        sig = new_sig
    roots = E.select(F.col("v").alias("u"), F.col("v"))
    return (E.unionAll(roots).distinct()
            .select(F.col("u").alias("node"), F.col("v").alias("component")))


def dedup_components(docs: DataFrame, pairs: DataFrame,
                     id_col: str = "doc_id", a_col: str = "a",
                     b_col: str = "b") -> DataFrame:
    """Docs + ``component`` (= min doc id of the near-dup cluster; own id
    when unpaired) + ``is_keeper`` (the one row per cluster to keep). The
    standard last stage of a dedup pipeline: any pairwise generator above
    (minhash/simhash/jaccard/embedding) plugs in as ``pairs``."""
    comp = connected_components(pairs, a_col, b_col)
    return (docs.join(comp.withColumnRenamed("node", id_col), id_col, "left")
            .withColumn("component",
                        F.coalesce("component", F.col(id_col).cast("long")))
            .withColumn("is_keeper",
                        F.col(id_col).cast("long") == F.col("component")))


# ---------------------------------------------------------------------------
# embedding similarity

def _norm_expr(vec: F.Column) -> F.Column:
    return F.sqrt(F.aggregate(vec, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_expr(a: F.Column, b: F.Column) -> F.Column:
    """JVM-side cosine of two array<float> columns (zip_with + aggregate)."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                      F.lit(0.0), lambda acc, x: acc + x)
    return dot / (_norm_expr(a) * _norm_expr(b))


def _gram_pairs_fn(thr: float, same_cap: int = 1 << 22):
    """applyInPandas kernel for one (block, chunk_i, chunk_j) pair-group:
    BLAS Gram product over the two chunks' vectors, emit (a, b, cos_raw)
    for cos ≥ ``thr``. Row-sliced so no slice materializes more than
    ``same_cap`` Gram cells: 2^22 float64 cells = 32 MB per slice, so task
    memory stays bounded at any chunk size and worker count."""

    def gram(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_id"].to_numpy()
        M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["_v"]])
        nrm = np.sqrt(np.einsum("ij,ij->i", M, M))
        nrm = np.maximum(nrm, 1e-300)
        bi = int(pdf["_bi"].iat[0])
        bj = int(pdf["_bj"].iat[0])
        if bi == bj:
            a_ids, A, na = ids, M, nrm
            b_ids, B, nb = ids, M, nrm
        else:
            sel = pdf["_c"].to_numpy() == bi
            a_ids, A, na = ids[sel], M[sel], nrm[sel]
            b_ids, B, nb = ids[~sel], M[~sel], nrm[~sel]
        if len(a_ids) == 0 or len(b_ids) == 0:
            return pd.DataFrame({"a": np.array([], dtype=np.int64),
                                 "b": np.array([], dtype=np.int64),
                                 "_cos": np.array([], dtype=np.float64)})
        out_a, out_b, out_c = [], [], []
        step = max(1, same_cap // max(len(b_ids), 1))
        col = np.arange(len(b_ids))
        for s in range(0, len(a_ids), step):
            e = min(s + step, len(a_ids))
            C = (A[s:e] @ B.T) / (na[s:e, None] * nb[None, :])
            keep = C >= thr
            if bi == bj:
                # positional upper triangle: pair (i, j) once, i < j
                keep &= col[None, :] > np.arange(s, e)[:, None]
            ii, jj = np.nonzero(keep)
            if len(ii):
                ai = a_ids[ii + s]
                bji = b_ids[jj]
                out_a.append(np.minimum(ai, bji))
                out_b.append(np.maximum(ai, bji))
                out_c.append(C[ii, jj])
        if not out_a:
            return pd.DataFrame({"a": np.array([], dtype=np.int64),
                                 "b": np.array([], dtype=np.int64),
                                 "_cos": np.array([], dtype=np.float64)})
        return pd.DataFrame({"a": np.concatenate(out_a),
                             "b": np.concatenate(out_b),
                             "_cos": np.concatenate(out_c)})

    return gram


def embedding_near_dups(emb: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        cos_min: float = 0.95,
                        block_col: str | None = "label",
                        n_chunks: int = 8,
                        cos_round: int = 6) -> DataFrame:
    """Embedding-cosine near-dup pairs. Blocked on ``block_col`` when given
    (cluster/label blocking); treated as ONE block otherwise — at scale the
    block column comes from an LSH bucket (see ann_lsh).

    Physical plan (guide §4.2): instead of a blocked self-join evaluating an
    interpreted ``aggregate(zip_with(...))`` cosine per candidate pair (3
    array lambdas × dim per pair — 290 s at 20M pairs in round-5 bench),
    each block is split into ``n_chunks`` id-keyed chunks, every row is
    exploded to its K chunk-pair groups, and one applyInPandas kernel per
    (block, ci, cj) group computes the pairwise cosines as a single BLAS
    Gram product. Shuffle = K× the (pruned) vector bytes — never the
    pairs; task memory is bounded by the chunk size and the kernel's
    row-slicing, so a hot block parallelizes over K(K+1)/2 tasks instead
    of serializing into one. The kernel pre-filters at
    ``cos_min − 0.5·10^−cos_round − 1e−9``; the exact
    ``round(cos, cos_round) ≥ cos_min`` filter stays JVM-side, so the
    emitted values and threshold semantics are identical to the join
    formulation (parity-tested in test_training_ops)."""
    blk = F.col(block_col) if block_col else F.lit(0)
    K = int(n_chunks)
    chunked = emb.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"),
        blk.alias("_blk"),
        F.pmod(F.col(id_col), F.lit(K)).cast("int").alias("_c"))
    pair_structs = F.array(*[
        F.struct(F.least(F.col("_c"), F.lit(d)).alias("bi"),
                 F.greatest(F.col("_c"), F.lit(d)).alias("bj"))
        for d in range(K)])
    exploded = chunked.select(
        "_id", "_v", "_blk", "_c", F.explode(pair_structs).alias("_p"),
    ).select("_id", "_v", "_blk", "_c",
             F.col("_p.bi").alias("_bi"), F.col("_p.bj").alias("_bj"))
    thr = float(cos_min) - 0.5 * 10.0 ** (-int(cos_round)) - 1e-9
    pairs = exploded.groupBy("_blk", "_bi", "_bj").applyInPandas(
        _gram_pairs_fn(thr), "a long, b long, _cos double")
    return (
        pairs.where(F.col("a") < F.col("b"))  # degenerate dup-id guard
        .withColumn("cos", F.round(F.col("_cos"), int(cos_round)))
        .where(F.col("cos") >= cos_min)
        .select("a", "b", "cos")
    )


def ann_bruteforce_topk(emb: DataFrame, queries: DataFrame, k: int = 5,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        q_id: str = "q_id", q_vec: str = "q_vec") -> DataFrame:
    """Brute-force cosine top-k: broadcast the (small) query set against the
    corpus, rank per query. The corpus side streams — correct baseline at
    any scale where |queries| is broadcastable."""
    j = emb.crossJoin(F.broadcast(queries))
    scored = j.withColumn("cos", F.round(cosine_expr(F.col(vec_col), F.col(q_vec)), 6))
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


def _rand_planes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).astype(np.float64)


def srp_bucket_udf(dim: int, n_planes: int = 12, seed: int = 42):
    """Signed-random-projection LSH bucket id for array<float> vectors —
    the scale path for ANN: only same-bucket vectors are compared. Arrow-
    batched numpy matmul, planes broadcast via closure."""
    planes = _rand_planes(dim, n_planes, seed)

    @F.pandas_udf(T.IntegerType())
    def bucket(vecs: pd.Series) -> pd.Series:  # pragma: no cover (executor)
        mat = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        signs = (mat @ planes.T) > 0
        out = np.zeros(len(mat), dtype=np.int32)
        for i in range(n_planes):
            out = (out << 1) | signs[:, i].astype(np.int32)
        return pd.Series(out)

    return bucket


def ann_lsh_topk(emb: DataFrame, queries: DataFrame, dim: int, k: int = 5,
                 n_planes: int = 8, id_col: str = "vec_id",
                 vec_col: str = "embedding", q_id: str = "q_id",
                 q_vec: str = "q_vec", cos_round: int = 6) -> DataFrame:
    """LSH-bucketed ANN: corpus and queries bucketed by SRP; candidates =
    same-bucket rows; rank per query. Approximate — recall measured in
    tests against the brute-force baseline. ``cos_round`` sets the ranking
    precision (oracle comparisons use 4 so cross-engine float noise can't
    reorder ranks)."""
    bucket = srp_bucket_udf(dim, n_planes)
    e = emb.withColumn("bucket", bucket(F.col(vec_col)))
    q = queries.withColumn("bucket", bucket(F.col(q_vec)))
    j = e.join(q, "bucket")
    scored = j.withColumn("cos", F.round(cosine_expr(F.col(vec_col), F.col(q_vec)), cos_round))
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


def _assign_centroid_udf(centroids: np.ndarray):
    """Nearest-centroid id for array<float> vectors (cosine): Arrow-batched
    numpy matmul against the (small, closure-broadcast) centroid matrix."""
    c = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)

    @F.pandas_udf(T.IntegerType())
    def assign(vecs: pd.Series) -> pd.Series:  # pragma: no cover (executor)
        mat = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(mat @ c.T, axis=1).astype(np.int32))

    return assign


def ivf_fit_centroids(emb: DataFrame, dim: int, n_centroids: int = 16,
                      iters: int = 2, id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      fit_fraction: float | None = None) -> np.ndarray:
    """Deterministic IVF codebook: seed with the ``n_centroids`` lowest-id
    vectors, refine with ``iters`` Lloyd rounds. Each round is one
    distributed assign (Arrow matmul) + one groupBy mean over posexploded
    components — only the C×dim codebook (KBs) ever reaches the driver.
    Deterministic end to end: seed choice is id-ordered and the mean is
    order-independent, so re-fits reproduce bit-identical codebooks.

    ``fit_fraction``: run the Lloyd rounds over a seeded deterministic
    sample (``df.sample(fraction, seed=42)`` — standard k-means practice:
    codebook quality depends on the cluster geometry, which a sample
    preserves, not on corpus size). Fit cost drops from O(iters × corpus)
    to O(iters × fraction·corpus) — the full-corpus fit was the one
    remaining O(corpus)-per-iteration term in the ANN family at 10^10
    vectors (VERDICT r4 #6); the full corpus is still assigned exactly
    once at probe time."""
    fit = emb
    if fit_fraction is not None and 0 < fit_fraction < 1.0:
        fit = emb.sample(fraction=fit_fraction, seed=42).cache()
    seed_rows = (fit.orderBy(F.col(id_col).asc()).limit(n_centroids)
                 .select(vec_col).collect())
    centroids = np.array([r[0] for r in seed_rows], dtype=np.float64)
    for _ in range(iters):
        assign = _assign_centroid_udf(centroids)
        assigned = fit.select(F.col(vec_col).alias("v"),
                              assign(F.col(vec_col)).alias("cid"))
        means = (
            assigned.select("cid", F.posexplode("v").alias("j", "x"))
            .groupBy("cid", "j").agg(F.avg("x").alias("mu"))
            .groupBy("cid")
            .agg(F.array_sort(F.collect_list(F.struct("j", "mu"))).alias("mus"))
            .select("cid", F.transform("mus", lambda s: s["mu"]).alias("mu"))
            .collect()
        )
        for r in means:  # empty cells keep their previous centroid
            centroids[r["cid"]] = np.asarray(r["mu"], dtype=np.float64)
    if fit is not emb:
        fit.unpersist()
    return centroids


def ann_ivf_topk(emb: DataFrame, queries: DataFrame, dim: int, k: int = 5,
                 n_centroids: int = 16, n_probe: int = 4, iters: int = 2,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 q_id: str = "q_id", q_vec: str = "q_vec",
                 centroids: np.ndarray | None = None,
                 cos_round: int = 6,
                 fit_fraction: float | None = None) -> DataFrame:
    """IVF ANN: corpus partitioned into ``n_centroids`` Voronoi cells, each
    query probes its ``n_probe`` nearest cells — the scan is |corpus|·p/C
    instead of |corpus|. The equi-join on cell id is the only shuffle; the
    codebook rides in UDF closures. Approximate (recall depends on
    n_probe/C — measured vs the brute-force baseline in tests), same output
    schema as ``ann_bruteforce_topk``/``ann_lsh_topk``."""
    if centroids is None:
        centroids = ivf_fit_centroids(emb, dim, n_centroids, iters,
                                      id_col, vec_col,
                                      fit_fraction=fit_fraction)
    c = centroids / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12)
    assign = _assign_centroid_udf(centroids)
    e = emb.withColumn("cid", assign(F.col(vec_col)))

    n_p = min(n_probe, len(c))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(vecs: pd.Series) -> pd.Series:  # pragma: no cover
        mat = np.stack(vecs.map(lambda v: np.asarray(v, dtype=np.float64)).to_numpy())
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        order = np.argsort(-(mat @ c.T), axis=1, kind="stable")[:, :n_p]
        return pd.Series([row.astype(np.int32).tolist() for row in order])

    q = queries.withColumn("cid", F.explode(probe_cells(F.col(q_vec))))
    scored = (e.join(q, "cid")
              .withColumn("cos", F.round(cosine_expr(F.col(vec_col), F.col(q_vec)), cos_round)))
    w = Window.partitionBy(q_id).orderBy(F.col("cos").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(q_id, F.col(id_col).alias("neighbor_id"), "cos", "rank")
    )


# ---------------------------------------------------------------------------
# text analysis sweep

def analyze_documents(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass text-analysis projection: language id, quality score,
    token counts, fingerprint — all JVM-side Column expressions."""
    t = F.col(text_col)
    feats = TX.quality_features(t)
    return docs.select(
        "*",
        TX.lang_id(t).alias("lang_pred"),
        TX.quality_score(t).alias("quality"),
        TX.token_count_ws(t).alias("n_tokens_ws"),
        TX.token_count_bpe(t).alias("n_tokens_bpe"),
        TX.fingerprint(t).alias("fp"),
        feats["punct_ratio"].alias("punct_ratio"),
        feats["stop_hits"].alias("stop_hits"),
    )
