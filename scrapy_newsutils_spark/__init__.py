"""scrapy_newsutils_spark — a from-scratch PySpark-native crawl/analytics engine.

Re-expresses the capabilities of ``techoutlooks/scrapy-newsutils`` (a Scrapy
item-pipeline news crawler, reference at /root/reference) as idiomatic Spark:

- URL frontier + fetch scheduler (priority queue, politeness, skew salting)
  over snapshot-committed parquet tables (Iceberg-style semantics emulated;
  the Iceberg runtime jar is not present in this sandbox).
- URL-seen dedup: Bloom pre-filter + exact LEFT ANTI join.
- The reference's post pipeline as set-oriented DataFrame stages:
  FilterDate, edit classification/versioning, image-quality gate, upsert sink.
- The batch NLP layer: TF-IDF all-pairs similarity, sibling/related banding,
  metapost group-aggregation with deterministic version hashing.
- Training-data-pipeline ops: exact/MinHash-LSH/SimHash/Jaccard/embedding
  dedup, ANN similarity search, text analysis.

Everything is DataFrame/SQL-first; Python only appears as Arrow-vectorized
pandas UDFs (never per-row Python in a hot path).
"""

__version__ = "0.1.0"

from .session import get_spark  # noqa: F401
