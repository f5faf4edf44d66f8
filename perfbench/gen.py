"""Seeded input generators for the benchmark workloads.

Every table here is a pure function of ``seed`` and the size arguments: the
same seed gives byte-identical inputs under any parallelism. The engine under
test receives only these tables. Nothing here calls its operators; only the
table schemas come from the engine.

- crawl world: a skewed frontier (two hot hosts hold ~40% of rows), a
  pre-seen url_seen share, robots rules with ``/private`` disallows and tiny
  PNG payloads keyed by ``image_id``.
- news world: one day of article pages, in topic clusters so the
  similarity verb finds siblings.
- corpus: exact and near duplicates of the articles to inject next to the
  day's posts, and embedding vectors with injected near-duplicate copies.
"""

from __future__ import annotations

import datetime as dt
import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from scrapy_newsutils_spark import schemas

HOT_HOSTS = ("hot0.example.com", "hot1.example.com")
N_HOSTS = 200
NEWS_SOURCE = "https://news.example.com"
NEWS_DAY = dt.date(2024, 3, 4)


def _hash(seed: int, salt: int, *cols) -> F.Column:
    return F.xxhash64(F.lit(seed), F.lit(salt), *cols)


def _surt(host: F.Column, path: F.Column) -> F.Column:
    return F.concat(F.array_join(F.reverse(F.split(host, r"\.")), ","),
                    F.lit(")"), path)


# -- crawl world ---------------------------------------------------------------

def frontier(spark: SparkSession, n: int, seed: int, n_images: int) -> DataFrame:
    """``n`` frontier rows. Hosts: 20% each on the two hot hosts, the rest
    hash-spread over 198 hosts; 1 row in 17 has a ``/private/`` path; 6 rows
    in 7 carry a payload id. Priorities are hash-derived in [0, 1)."""
    i = F.col("id")
    pick = F.pmod(_hash(seed, 1, i), F.lit(5))
    host = (F.when(pick == 0, F.lit(HOT_HOSTS[0]))
            .when(pick == 1, F.lit(HOT_HOSTS[1]))
            .otherwise(F.concat(
                F.lit("h"), F.pmod(_hash(seed, 2, i), F.lit(N_HOSTS - 2)),
                F.lit(".example.com"))))
    path = F.concat(
        F.when(F.pmod(_hash(seed, 3, i), F.lit(17)) == 3, F.lit("/private/"))
        .otherwise(F.lit("/p/")), i.cast("string"))
    df = spark.range(n).select(i, host.alias("host"), path.alias("path"))
    surt = _surt(F.col("host"), F.col("path"))
    image_id = F.when(
        F.pmod(_hash(seed, 4, i), F.lit(7)) != 6,
        F.format_string("img-%08d",
                        F.pmod(_hash(seed, 5, i), F.lit(n_images)).cast("int")))
    return df.select(
        F.concat(F.lit("https://"), "host", "path").alias("url"),
        surt.alias("url_surt"),
        F.xxhash64(surt).alias("url_key"),
        "host",
        (F.pmod(_hash(seed, 6, i), F.lit(1_000_000)) / 1_000_000.0).alias("priority"),
        (F.pmod(i, F.lit(5)) + 1).cast("int").alias("depth"),
        (F.lit(dt.datetime(2024, 3, 1)) + F.make_interval(secs=i.cast("double")))
        .alias("discovered_ts"),
        image_id.alias("image_id"),
        F.lit(0).alias("epoch_added"),
    )


def url_seen(frontier_df: DataFrame, seed: int) -> DataFrame:
    """About 10% of the frontier keys, already crawled at epoch 0."""
    return frontier_df.where(
        F.pmod(_hash(seed, 7, "url_key"), F.lit(10)) == 0
    ).select("url_key", "host", F.lit(0).alias("first_seen_epoch"),
             F.pmod("url_key", F.lit(64)).cast("int").alias("bucket"))


def robots(spark: SparkSession, seed: int) -> DataFrame:
    """Per-host politeness: hot hosts have no delay; the others draw a delay
    from {0, 500, 2000, 60000} ms; one host in 11 disallows ``/private``."""
    rng = np.random.default_rng(seed)
    hosts = list(HOT_HOSTS) + [f"h{i}.example.com" for i in range(N_HOSTS - 2)]
    delays = rng.choice([0, 500, 2000, 60000], size=len(hosts))
    disallow = rng.random(len(hosts)) < 1 / 11
    rows = [{"host": h,
             "crawl_delay_ms": 0 if h in HOT_HOSTS else int(d),
             "disallow_prefixes": ["/private"] if dis else [],
             "max_concurrency": 16}
            for h, d, dis in zip(hosts, delays, disallow)]
    return spark.createDataFrame(pd.DataFrame(rows), schema=schemas.ROBOTS)


def png(px: np.ndarray) -> bytes:
    """Minimal RGB PNG encoder (zlib + CRC chunks)."""
    h, w, _ = px.shape
    raw = b"".join(b"\x00" + px[y].tobytes() for y in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


def images(spark: SparkSession, n: int, seed: int) -> DataFrame:
    """``n`` small PNG payloads (8-24 px a side) keyed ``img-%08d``."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        w, h = (int(v) for v in rng.integers(8, 25, size=2))
        rows.append({"image_id": f"img-{i:08d}",
                     "bytes": png(rng.integers(0, 256, (h, w, 3), dtype=np.uint8)),
                     "w": w, "h": h, "fmt": "png", "caption": f"image {i}",
                     "phash": int(rng.integers(0, 2**62))})
    return spark.createDataFrame(pd.DataFrame(rows), schema=schemas.IMAGES)


# -- news world ----------------------------------------------------------------

_STOP = "the of and to in a is that for on with as was by at from".split()


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        words.add("".join(rng.choice(letters, size=int(rng.integers(4, 9)))))
    return sorted(words)


@dataclass
class NewsWorld:
    """One day of articles: their texts and their HTML pages."""
    texts: list[str]
    html: list[str]

    @property
    def n(self) -> int:
        return len(self.html)


def _article_html(i: int, title: str, text: str) -> str:
    image = f"/img/{i}.png"
    return (
        f"<html><head><title>{title}</title>"
        f'<meta property="article:published_time" '
        f'content="{NEWS_DAY.isoformat()}T{8 + i % 10:02d}:00:00"/>'
        f'<meta property="og:image" content="{NEWS_SOURCE}{image}"/>'
        f'<meta name="author" content="Author {i % 7}"/></head>'
        f'<body><div class="story"><p>{text}</p>'
        f'<a href="/post/{(i * 7 + 1)}">related</a></div>'
        f'<img src="{image}"/></body></html>')


def news_world(n: int, seed: int) -> NewsWorld:
    """``n`` articles on 12 topics: each article shares its topic's 12
    words, so same-topic articles are similar."""
    n_topics = 12
    rng = np.random.default_rng(seed)
    vocab = _vocab(rng, 4000)
    topics = [list(rng.choice(vocab, size=12, replace=False)) for _ in range(n_topics)]
    texts, html = [], []
    for i in range(n):
        words = list(topics[i % n_topics]) + list(rng.choice(vocab, size=40)) \
            + list(rng.choice(_STOP, size=8))
        rng.shuffle(words)
        text = " ".join(words) + "."
        title = f"Story {i} " + " ".join(topics[i % n_topics][:3])
        texts.append(text)
        html.append(_article_html(i, title, text))
    return NewsWorld(texts, html)


def news_pages(spark: SparkSession, world: NewsWorld) -> DataFrame:
    """The day's crawl as (url, html) pages."""
    return spark.createDataFrame(
        pd.DataFrame({"url": [f"{NEWS_SOURCE}/post/{i}" for i in range(world.n)],
                      "html": world.html}), "url string, html string")


# -- corpus ----------------------------------------------------------------------

@dataclass
class Corpus:
    dups: pd.DataFrame  # doc_id, text: injected duplicates of the articles
    vectors: pd.DataFrame  # vec_id, embedding, label
    vector_dups: int


def corpus(world: NewsWorld, seed: int, n_vectors: int) -> Corpus:
    """Duplicates to inject next to the day's posts: exact copies of a seeded
    10% of article texts (case and whitespace changed, so the normalised
    fingerprint and the lowercase word shingles both still match) and near
    copies of another 10% (one word appended). Vectors: ``n_vectors``
    random 32-d unit vectors in 4 label blocks plus near-identical copies
    (noise 1e-3) of a seeded 5%."""
    exact_share, near_share, vector_dup_share, dim, n_labels = 0.10, 0.10, 0.05, 32, 4
    rng = np.random.default_rng(seed + 1)
    vocab = _vocab(rng, 1000)
    n = world.n
    ids, texts = [], []
    for j, src in enumerate(rng.choice(n, size=int(n * exact_share), replace=False)):
        ids.append(1_000_000 + j)
        texts.append("  " + world.texts[src].upper().replace(" ", " \n  ") + "  ")
    for j, src in enumerate(rng.choice(n, size=int(n * near_share), replace=False)):
        ids.append(2_000_000 + j)
        texts.append(world.texts[src] + " " + str(rng.choice(vocab)))
    dups = pd.DataFrame({"doc_id": np.array(ids, dtype=np.int64), "text": texts})

    vecs = rng.standard_normal((n_vectors, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = np.arange(n_vectors) % n_labels
    n_dup = int(n_vectors * vector_dup_share)
    src = rng.choice(n_vectors, size=n_dup, replace=False)
    dup = vecs[src] + 1e-3 * rng.standard_normal((n_dup, dim))
    dup /= np.linalg.norm(dup, axis=1, keepdims=True)
    vectors = pd.DataFrame({
        "vec_id": np.arange(n_vectors + n_dup, dtype=np.int64),
        "embedding": list(np.vstack([vecs, dup]).astype(np.float32)),
        "label": np.concatenate([labels, labels[src]]).astype(np.int32)})
    return Corpus(dups, vectors, n_dup)
