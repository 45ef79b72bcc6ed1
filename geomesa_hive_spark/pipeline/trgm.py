"""pg_trgm-style trigram substring index (round 14).

Accelerated ``WHERE text LIKE '%pattern%'``: the full-scan form is a
per-row ``contains()`` over 100 TB of text; PostgreSQL's answer is the
pg_trgm GIN index, and this module is its lakehouse twin in the repo's
persisted-index family (BM25 / MinHash / IVF — same bucket-partitioned
layout, same lifecycle core):

- ``build_trgm_index`` extracts each document's DISTINCT character
  trigrams with NATIVE exprs (lower → transform/substring →
  array_distinct — no Python in the build hot path) and stores
  ``postings/`` (tri, id) partitioned by ``bucket =
  pmod(xxhash64(tri), n_buckets)`` plus a ``docs/`` side table of
  lowered text partitioned by id-hash for pruned verification reads.
- ``substring_query_index`` reads ONLY the pattern's trigram buckets
  (≤ len(pattern) − 2 of them), intersects posting lists (a candidate
  must contain ALL the pattern's trigrams — necessary, not
  sufficient: trigrams can be scattered), then rechecks survivors
  with an exact ``contains`` against the pruned docs slice — so the
  result is EXACTLY the full-scan answer at index-read cost.
- append / delete / maintain run on the shared lifecycle core of
  ``pipeline/index_io.py`` (generation-versioned tombstones applied at
  query time, physically dropped at maintain, one file per bucket
  after it); the meta ``_index.json`` carries ``n_docs``, the count of
  documents the index holds physically.

Patterns shorter than 3 characters cannot name a trigram and are
REFUSED (the index cannot prune for them — run the scan instead);
documents shorter than 3 characters have no postings, which is exact:
no ≥3-char pattern can occur in them. Trigrams are over the raw
lowered text (no pg_trgm word padding — this index serves substring
containment, not pg_trgm's similarity operator).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from geomesa_hive_spark.pipeline import index_io

__all__ = [
    "build_trgm_index",
    "append_to_trgm_index",
    "delete_from_trgm_index",
    "maintain_trgm_index",
    "substring_query_index",
    "trgm_index_meta",
]

# distinct character trigrams of the (already lowered) column `t`;
# the <3 guard matters: Spark's sequence(1, 0) counts DOWN
_TRIS = (
    "CASE WHEN length(t) < 3 THEN array() "
    "ELSE array_distinct(transform(sequence(1, length(t) - 2), "
    "i -> substring(t, i, 3))) END"
)


def _index(path: str) -> index_io.GenerationalIndex:
    return index_io.GenerationalIndex(path, "trigram index")


def trgm_index_meta(path: str) -> dict:
    return _index(path).meta()


def _base(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    # spread_parallelism BEFORE projecting lower(): a small parquet
    # arrives as ONE input split and the whole trigram explode +
    # bucket hash downstream of this frame would run on one core (the
    # shared round-13 tokenization guard; a no-op at production scale
    # where inputs carry splits >> cores)
    from geomesa_hive_spark.pipeline.text import spread_parallelism

    raw = spread_parallelism(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")),
        "id",
    )
    return (
        raw.select("id", F.lower(F.col("__t")).alias("t"))
        .filter(F.col("t").isNotNull())
    )


def _sides(base: DataFrame, nb: int) -> dict:
    posts = base.select("id", F.explode(F.expr(_TRIS)).alias("tri"))
    bucket = index_io.bucket_of
    return {
        "postings": (posts.withColumn("bucket", bucket("tri", nb)), "bucket"),
        "docs": (base.withColumn("dbucket", bucket("id", nb)), "dbucket"),
    }


def build_trgm_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    path: str,
    n_buckets: int = 32,
) -> dict:
    """Extract and persist the corpus's trigram postings once. Returns
    the metadata dict (pinned in ``_index.json``)."""
    nb = int(n_buckets)
    base = _base(df, id_col, text_col).localCheckpoint()
    return _index(path).build({"n_buckets": nb, "n_docs": base.count()},
                              _sides(base, nb))


def append_to_trgm_index(
    new_docs: DataFrame, id_col: str, text_col: str, path: str
) -> dict:
    """Index a new batch into the same bucket layout (gen-stamped,
    append-only — existing files never rewritten). Caller contract:
    ids must be new; a re-crawled id is tombstoned first (delete +
    append = upsert, the shared index discipline)."""
    def derive(meta: dict) -> dict:
        base = _base(new_docs, id_col, text_col).localCheckpoint()
        meta["n_docs"] = int(meta["n_docs"]) + base.count()
        return _sides(base, int(meta["n_buckets"]))

    return _index(path).append(derive)


def delete_from_trgm_index(keys: DataFrame, id_col: str,
                           path: str) -> None:
    """Tombstone documents out (applied at query time immediately;
    physically dropped at the next maintain). Unknown ids no-op."""
    _index(path).delete(keys, id_col)


def maintain_trgm_index(spark: SparkSession, path: str) -> dict:
    """Apply tombstones physically and compact to one file per bucket.
    Returns the core's report plus ``n_docs`` after the removal."""
    def n_docs(meta: dict, report: dict) -> None:
        meta["n_docs"] = report["n_docs"] = (
            int(meta["n_docs"]) - report["n_tombstones_applied"])

    return _index(path).maintain(
        spark, {"postings": "bucket", "docs": "dbucket"}, "docs",
        after={"docs": n_docs})


def substring_query_index(
    spark: SparkSession,
    path: str,
    pattern: str,
    prune_report: dict | None = None,
) -> DataFrame:
    """(id) of every indexed document whose text CONTAINS ``pattern``
    (case-insensitive) — exactly the full-scan
    ``contains(lower(text), lower(pattern))`` answer, at the cost of
    the pattern's trigram buckets + the candidates' doc buckets.
    ``prune_report`` (filled in place) records the pruning.

    The candidate set is BROADCAST into the docs-side join (its size
    drives dynamic partition pruning of the doc buckets). That is the
    right trade for the index's use case — selective patterns with few
    survivors of the all-trigrams intersection; a pattern common enough
    to name millions of candidates defeats a trigram index everywhere
    (pg_trgm included) and should run as the plain contains() scan."""
    idx = _index(path)
    nb = int(idx.meta()["n_buckets"])
    pat = pattern.lower()
    if len(pat) < 3:
        raise ValueError(
            "pattern shorter than 3 characters cannot name a trigram — "
            "the index cannot prune; run contains() over the corpus "
            "instead"
        )
    tris = sorted({pat[i:i + 3] for i in range(len(pat) - 2)})
    need = index_io.buckets_of(spark, tris, nb)
    tomb = idx.tombstones(spark)
    posts = idx.hide(
        spark.read.parquet(os.path.join(path, "postings")).filter(
            F.col("bucket").isin(need) & F.col("tri").isin(tris)),
        tomb)
    # candidates carry their doc bucket (the same pmod(xxhash64(id))
    # the writer used); the docs side is then pruned by DYNAMIC
    # partition pruning off the broadcast join on (id, dbucket) —
    # round-15: this folds what used to be three driver round-trips
    # (cands localCheckpoint, a collect_set of the buckets, then the
    # isin-filtered docs scan) into the single final job, and the
    # partition cut is identical (dbucket is a function of id).
    cands = (
        posts.groupBy("id")
        .agg(F.countDistinct("tri").alias("nt"))
        .filter(F.col("nt") == len(tris))
        .select("id")
        .withColumn("dbucket", index_io.bucket_of("id", nb))
    )
    if prune_report is not None:
        prune_report.update({
            "post_buckets_read": len(need),
            "doc_pruning": "dpp-broadcast",
            "n_buckets": nb,
            "n_trigrams": len(tris),
        })
    docs = idx.hide(spark.read.parquet(os.path.join(path, "docs")), tomb)
    return (
        docs.join(F.broadcast(cands), ["id", "dbucket"])
        .filter(F.col("t").contains(pat))
        .select("id")
    )
