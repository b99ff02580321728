"""Document expiration — DocExpirationUpdateProcessorFactory analog
(solr/core/.../update/processor/DocExpirationUpdateProcessorFactory.java).

Two halves, like the reference:

1. `compute_expiration` — the TTLUpdateProcessor half (:244-280):
   each added doc carrying a `_ttl_` date-math string (e.g. "+30DAYS",
   "+1MONTH/DAY") gets `_expire_at_` = NOW<ttl> computed through the
   SAME DateMathParser grammar the engine's range queries use
   (functions/datemath.py), with an optional request-level default
   TTL. Spark shape: the ttl strings are a tiny low-cardinality set —
   resolve the DISTINCT values driver-side against the fixed `now`
   anchor and fold them into one literal when-cascade column (codegen,
   no join); the doc table itself never leaves the executors.

2. `delete_expired` — the DeleteExpiredDocsRunnable half (:300-339):
   the recurring deleteByQuery("{expirationField}:[* TO NOW]")
   becomes one distributed tombstone append of the expired keys
   (exactly update_documents' delete path — no driver-side key
   collection), so the next searcher open filters them like any other
   delete and the next compaction drops them physically.
"""

from __future__ import annotations

import os
from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def compute_expiration(
    docs: DataFrame,
    now: datetime,
    ttl_col: str = "_ttl_",
    expire_col: str = "_expire_at_",
    default_ttl: str | None = None,
) -> DataFrame:
    """Add `expire_col` = now<ttl math> per row (null ttl -> the
    request default, or no expiration). Raises on malformed TTL
    strings with the DateMathParser's reference error messages."""
    from lucene_solr_spark.functions.datemath import parse_math

    if ttl_col not in docs.columns:
        if default_ttl is None:
            return docs.withColumn(
                expire_col, F.lit(None).cast("timestamp")
            )
        exp = parse_math(default_ttl, now)
        return docs.withColumn(expire_col, F.lit(exp).cast("timestamp"))

    distinct = [
        r[0]
        for r in docs.select(ttl_col).distinct().collect()
        if r[0] is not None
    ]
    mapping = {t: parse_math(t, now) for t in distinct}
    default_exp = (
        parse_math(default_ttl, now) if default_ttl is not None else None
    )
    expr = F.lit(default_exp).cast("timestamp")
    for ttl, exp in sorted(mapping.items()):
        expr = F.when(
            F.col(ttl_col) == ttl, F.lit(exp).cast("timestamp")
        ).otherwise(expr)
    return docs.withColumn(expire_col, expr)


def delete_expired(
    spark: SparkSession,
    index_dir: str,
    stored: DataFrame,
    now: datetime,
    expire_col: str = "_expire_at_",
) -> int:
    """Tombstone every doc whose expiration is <= now
    (deleteByQuery "expire_at:[* TO NOW]",
    DocExpirationUpdateProcessorFactory.java:328). Tombstones are
    written straight from the filtered DataFrame — executor-bound at
    any corpus size. Keys already tombstoned at this sweep's watermark
    or above are anti-joined away first, so repeated sweeps over the
    same stored frame are idempotent (the tombstone table does not
    grow) and the return value is the number of NEWLY expired keys
    this sweep. A tombstone only deletes docIDs below its watermark:
    an older one (e.g. from update_documents, whose new version got a
    docID past it) does not cover the live version, so it does not
    suppress the new tombstone."""
    import json

    from lucene_solr_spark.index.deletes import _current_total_docs

    with open(os.path.join(index_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    id_col = manifest["config"]["id_col"]
    key_type = "string" if manifest.get("key_kind") == "s" else "long"
    wm = _current_total_docs(manifest)
    expired = stored.where(
        F.col(expire_col).isNotNull()
        & (F.col(expire_col) <= F.lit(now).cast("timestamp"))
    )
    tomb = expired.select(
        F.col(id_col).cast(key_type).alias("key"),
        F.lit(wm).cast("long").alias("wm"),
    )
    tomb_dir = os.path.join(index_dir, "tombstones")
    if os.path.exists(tomb_dir):
        covered = spark.read.parquet(tomb_dir).where(F.col("wm") >= wm)
        tomb = tomb.join(covered.select("key"), "key", "left_anti")
    n = tomb.count()
    if n:
        tomb.write.mode("append").parquet(tomb_dir)
    return n
