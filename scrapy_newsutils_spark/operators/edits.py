"""Edit classification + versioning (J2) — the reference's CheckEdits slow
path, set-oriented.

Reference semantics (/root/reference/src/newsutils/pipelines.py:96-148):
for a batch row whose ``short_link`` matches an existing post:
- identical in every field outside ``edits_excluded_fields`` → **pristine**:
  drop the row;
- ``text`` or ``title`` changed (``edits_new_version_fields``,
  /root/reference/src/newsutils/conf/posts.py:156) → **new_version**:
  version = existing.version + 1, inserted as a NEW row (own post_id);
- anything else changed → **minor**: update-in-place, adopting the existing
  row's identity (post_id, version).
Unmatched rows are plain **new** inserts.

Excluded fields (/root/reference/src/newsutils/conf/posts.py:59-64):
version, the db id, the item id (short_link), and the NLP-computed fields.

A single MERGE can't express "WHEN MATCHED THEN INSERT", so the engine
routes rows into (inserts ∪ updates) BEFORE the sink MERGE (SURVEY §7
"hard parts"). One inner join on short_link does all the classification —
no per-row Python anywhere.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# fields compared for "pristine" = everything except these
EXCLUDED_FIELDS = {
    "post_id", "version", "short_link", "link_hash",
    "category", "caption", "summary", "siblings", "related",  # nlp fields
    "created_ts",  # row event-time, not content
}
NEW_VERSION_FIELDS = ("text", "title")


def _changed(fields: list[str]) -> F.Column:
    """ANY field differs between batch (b_) and existing (e_) projections.
    Null-safe: <=> treats null==null as equal."""
    cond = F.lit(False)
    for f in fields:
        cond = cond | ~F.col(f"b_{f}").eqNullSafe(F.col(f"e_{f}"))
    return cond


def classify_edits(batch: DataFrame, existing: DataFrame,
                   key: str = "short_link",
                   new_version_fields: tuple[str, ...] = NEW_VERSION_FIELDS,
                   excluded_fields: set[str] | None = None) -> DataFrame:
    """Tag each batch row with ``edit_status`` ∈ {new, pristine, new_version,
    minor} plus the matched row's identity (``existing_post_id``,
    ``existing_version``) when present. Field sets are configurable, like the
    reference's settings-driven ``edits_*_fields``."""
    excluded = EXCLUDED_FIELDS if excluded_fields is None else excluded_fields
    nv_fields = [f for f in new_version_fields if f in batch.columns]
    compare = [c for c in batch.columns if c not in excluded and c != key]
    b = batch.select(
        F.col(key),
        *[F.col(c).alias(f"b_{c}") for c in batch.columns if c != key],
    )
    # a new_version insert leaves SEVERAL rows sharing the key; classify
    # against the LATEST (max version, post_id tiebreak) or the join would
    # fan each batch row out once per stored version. (The reference's
    # find_one picks whichever row Mongo returns first — storage-order
    # nondeterminism the engine replaces with a deterministic max.)
    others = [c for c in existing.columns if c != key]
    e = (existing.groupBy(key)
         .agg(F.max_by(F.struct(*[F.col(c) for c in others]),
                       F.struct(F.col("version"), F.col("post_id"))).alias("_e"))
         .select(F.col(key), *[F.col(f"_e.{c}").alias(f"e_{c}") for c in others]))
    j = b.join(e, key, "left")

    status = (
        F.when(F.col("e_post_id").isNull(), F.lit("new"))
        .when(~_changed(compare), F.lit("pristine"))
        .when(_changed(nv_fields), F.lit("new_version"))
        .otherwise(F.lit("minor"))
    )
    out_cols = [F.col(key)] + [
        F.col(f"b_{c}").alias(c) for c in batch.columns if c != key
    ]
    return j.select(
        *out_cols,
        status.alias("edit_status"),
        F.col("e_post_id").alias("existing_post_id"),
        F.col("e_version").alias("existing_version"),
    )


def route_edits(classified: DataFrame, key: str = "short_link") -> DataFrame:
    """Resolve classification into sink-ready rows (pristine rows dropped):

    - new: as-is, version 1;
    - new_version: version = existing + 1, with a VERSION-QUALIFIED post_id
      ``xxhash64(key, version)`` — the parse stage derives post_id from the
      URL alone, so without qualification a v2 row would collide with (and
      silently replace) v1 in the post_id-keyed MERGE instead of coexisting
      as a new version (the reference inserts a fresh ObjectId per version,
      pipelines.py:128-136). Deterministic, so an edited-batch replay is
      still idempotent (classified pristine against the latest version);
    - minor: adopts existing post_id + version (update-in-place).

    The result upserts with ``merge_upsert_partitioned(key_cols=["post_id"])``
    — minor rows collide with (replace) the existing row, new/new_version
    insert.
    """
    kept = classified.where(F.col("edit_status") != "pristine")
    return (
        kept.withColumn(
            "version",
            F.when(F.col("edit_status") == "new_version",
                   F.col("existing_version") + 1)
            .when(F.col("edit_status") == "minor", F.col("existing_version"))
            .otherwise(F.lit(1)),
        )
        .withColumn(
            "post_id",
            F.when(F.col("edit_status") == "minor", F.col("existing_post_id"))
            .when(F.col("edit_status") == "new_version",
                  F.xxhash64(F.col(key), F.col("version")))
            .otherwise(F.col("post_id")),
        )
        .drop("existing_post_id", "existing_version")
    )
