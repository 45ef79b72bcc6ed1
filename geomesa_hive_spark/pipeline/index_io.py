"""The one lifecycle core of the four persisted indexes: trigram
(``pipeline/trgm.py``), MinHash (``pipeline/dedup.py``), BM25
(``pipeline/retrieval.py``) and IVF (``pipeline/similarity.py``).

An index is a directory holding a meta JSON file (``_index.json``;
BM25 keeps its historical ``stats.json``) and one or more *sides*:
parquet datasets partitioned by a bucket column, each bucket
``pmod(xxhash64(x), n)`` (:func:`bucket_of`; IVF partitions by its
list id). A family supplies only its row derivation (batch →
``{side: (frame, partition column)}``), its extra meta fields and its
query; :class:`GenerationalIndex` owns everything else, once, so the
semantics cannot drift per index:

- **Meta and the generation guard.** Every mutating call (append,
  delete, maintain) loads the meta file and refuses one without a
  ``gen`` field BEFORE anything is written: a tombstone or gen-stamped
  append landing in a layout that predates generations would leave the
  index half-mutated and every later read failing (or, worse, silently
  un-hidden rows). The meta is committed atomically (tmp file +
  ``os.replace``), builds included.
- **Generations.** Rows carry the GENERATION they were born at: build
  = 0, each append bumps ``gen`` in the meta and stamps it on every
  new row that carries the id column (a side without ids, like BM25's
  per-term df rows, is never hidden and carries no ``gen``).
- **Concurrent side writes.** Sides live in different directories, so
  one mutation writes them all at once (:func:`run_concurrently`),
  each as ``repartition(n, part)`` + ``partitionBy(part)``: one file
  per bucket, not tasks × buckets.
- **Generation-versioned tombstones.** A delete appends
  ``(id, gen-at-delete)`` rows to ``tombstones/`` — O(ids), never an
  index scan. Reads hide rows with ``id`` matched AND ``row.gen <=
  tombstone.gen`` (max per id), so UPSERT — delete then re-append the
  same id — makes the new rows visible at once, with no maintain in
  between. Hiding refuses rows without a ``gen`` column (a loud
  rebuild instruction instead of an unresolved-column error).
- **Maintain (apply-at-compaction).** Every side is read and guarded
  first; then one chain per side, concurrently: count the distinct ids
  whose rows are ACTUALLY removed (on the family's count side — an
  unknown-id delete counts nothing), rewrite the side minus covered
  rows into ``<side>.compact`` and swap it in by rename, then run the
  family's hook for that side (BM25: postings → terms rebuild, docs →
  stats recompute, positions alone). The commit order is fixed: all
  sides swapped → meta committed → tombstones cleared. A failure
  before the meta commit keeps the log, so a re-run applies it; after
  it, the log left behind covers only rows already gone, and a re-run
  counts 0 removed against an already-correct meta.
- **Report.** ``{side: {"files_before", "files_after"}, ...,
  "n_tombstones_applied"}`` plus whatever the hooks add.

Single-maintainer contract, shared with ``manifest.vacuum``: no query,
append or maintain runs concurrently with a maintain.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "GenerationalIndex", "bucket_of", "buckets_of", "read_meta",
    "write_tombstones", "clear_tombstones", "swap_dir", "n_part_files",
    "run_concurrently",
]


def run_concurrently(*thunks) -> list:
    """Run independent Spark actions from a small driver thread pool
    (optimization guide §2.6: actions are only sequential because the
    driver calls them sequentially — overlapping independent jobs lets
    one job's tasks back-fill executors freed by another's tail, and
    at index-write scale it overlaps the fixed per-job latency of
    planning + scheduling + the parquet commit protocol). Used for the
    independent per-dataset writes of one index mutation (postings vs
    docs vs positions — different directories, no shared state beyond
    the already-materialized input). Re-raises the first failure after
    all thunks settle, so a failed write can never be silently skipped.
    Returns the thunk results in order."""
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futs = [pool.submit(t) for t in thunks]
        # wait on all before raising: a half-settled mutation with an
        # in-flight write behind a raised exception would race cleanup
        errs = []
        out = []
        for f in futs:
            try:
                out.append(f.result())
            except Exception as exc:  # noqa: BLE001 — re-raised below
                errs.append(exc)
                out.append(None)
        if errs:
            raise errs[0]
        return out


def bucket_of(col, nb: int) -> Column:
    """The bucket of every index side and probe: ``pmod(xxhash64(col),
    nb)`` as int."""
    return F.pmod(F.xxhash64(col), F.lit(int(nb))).cast("int")


def buckets_of(spark, values: list, nb: int) -> list:
    """Sorted distinct buckets of literal string ``values``, computed by
    Spark itself on a literal frame (one tiny local-relation job):
    Python has no xxhash64 twin, and reimplementing it driver-side
    would be a silent-drift hazard."""
    tdf = spark.createDataFrame([(v,) for v in values], "v string")
    return sorted({r.b for r in tdf.select(bucket_of("v", nb).alias("b"))
                   .collect()})


def _require_gen(ok: bool, what: str) -> None:
    if not ok:
        raise ValueError(
            f"{what} predates generation-versioned tombstones — "
            f"rebuild the index with the current version"
        )


def write_tombstones(keys: DataFrame, id_col: str, path: str,
                     gen: int) -> None:
    """Append (id, gen) tombstone rows — O(ids), never an index scan."""
    keys.select(
        F.col(id_col).alias("id"), F.lit(int(gen)).alias("gen")
    ).write.mode("append").parquet(os.path.join(path, "tombstones"))


def _covered(rows: DataFrame, tomb: DataFrame, id_col: str,
             how: str) -> DataFrame:
    """Join ``rows`` against tombstones on (same id AND row gen <=
    tombstone gen): ``left_anti`` keeps the live rows, ``left_semi``
    the covered ones."""
    t = tomb.select(
        F.col("id").alias("__t_id"), F.col("gen").alias("__t_gen")
    )
    return rows.join(
        F.broadcast(t),
        (rows[id_col] == t["__t_id"]) & (F.col("gen") <= t["__t_gen"]),
        how,
    )


def clear_tombstones(path: str) -> None:
    t = os.path.join(path, "tombstones")
    if os.path.isdir(t):
        shutil.rmtree(t)


def swap_dir(src: str, tmp: str) -> None:
    """Retire ``src`` and move ``tmp`` into its place (rename-based;
    single-maintainer contract)."""
    old = src + ".old"
    if os.path.exists(old):
        shutil.rmtree(old)
    os.rename(src, old)
    os.rename(tmp, src)
    shutil.rmtree(old)


def n_part_files(d: str) -> int:
    return len(glob.glob(os.path.join(d, "*", "*.parquet")))


def read_meta(path: str, meta_file: str = "_index.json") -> dict:
    with open(os.path.join(path, meta_file)) as fh:
        return json.load(fh)


def _put(rows: DataFrame, nb: int, part: str, mode: str, out: str) -> None:
    rows.repartition(nb, part).write.mode(mode).partitionBy(part).parquet(
        out)


class GenerationalIndex:
    """One persisted index at ``path`` (see the module docstring).
    ``what`` names it in errors; ``id_col`` is the id column of its
    rows; ``nb_key`` is the meta field holding the bucket count."""

    def __init__(self, path: str, what: str,
                 meta_file: str = "_index.json", id_col: str = "id",
                 nb_key: str = "n_buckets"):
        self.path, self.what, self.meta_file = path, what, meta_file
        self.id_col, self.nb_key = id_col, nb_key

    def meta(self) -> dict:
        return read_meta(self.path, self.meta_file)

    def _mutable_meta(self) -> dict:
        meta = self.meta()
        _require_gen("gen" in meta, self.what)
        return meta

    def _commit(self, meta: dict) -> dict:
        final = os.path.join(self.path, self.meta_file)
        with open(final + ".tmp", "w") as fh:
            json.dump(meta, fh)
        os.replace(final + ".tmp", final)
        return meta

    def _write(self, sides: dict, nb: int, gen: int, mode: str) -> None:
        def write(side, rows, part):
            if self.id_col in rows.columns:
                rows = rows.withColumn("gen", F.lit(int(gen)))
            _put(rows, nb, part, mode, os.path.join(self.path, side))

        run_concurrently(*(partial(write, s, rows, part)
                           for s, (rows, part) in sides.items()))

    def build(self, meta: dict, sides: dict) -> dict:
        """Write ``sides`` ({side: (frame, partition column)}) at
        generation 0, overwriting, then commit ``meta``. Returns it."""
        self._write(sides, meta[self.nb_key], 0, "overwrite")
        return self._commit({**meta, "gen": 0})

    def append(self, derive) -> dict:
        """Append a batch at the next generation: ``derive(meta)``
        returns its sides (and may advance the family's own meta
        fields); existing files are never rewritten. Returns the
        committed meta."""
        meta = self._mutable_meta()
        gen = int(meta["gen"]) + 1
        self._write(derive(meta), meta[self.nb_key], gen, "append")
        meta["gen"] = gen
        return self._commit(meta)

    def delete(self, keys: DataFrame, key_col: str) -> None:
        """Tombstone the ids in ``keys[key_col]`` at the current
        generation (hidden from reads at once, dropped at maintain).
        Unknown ids are a no-op."""
        gen = int(self._mutable_meta()["gen"])
        write_tombstones(keys, key_col, self.path, gen)

    def tombstones(self, spark) -> DataFrame | None:
        """Distinct tombstoned ids with the LATEST generation each was
        deleted at (max — a re-delete after a re-append must hide the
        younger rows too). None when no log exists."""
        t = os.path.join(self.path, "tombstones")
        if not os.path.isdir(t):
            return None
        return spark.read.parquet(t).groupBy("id").agg(
            F.max("gen").alias("gen"))

    def hide(self, rows: DataFrame, tomb: DataFrame | None) -> DataFrame:
        """``rows`` minus those covered by a tombstone."""
        if tomb is None:
            return rows
        _require_gen("gen" in rows.columns, self.what)
        return _covered(rows, tomb, self.id_col, "left_anti")

    def rewrite(self, side: str, rows: DataFrame, part: str,
                nb: int) -> dict:
        """Write ``rows`` to ``<side>.compact``, one file per bucket,
        and swap it in by rename. Returns the side's report entry."""
        src = os.path.join(self.path, side)
        before = n_part_files(src)
        _put(rows, nb, part, "overwrite", src + ".compact")
        swap_dir(src, src + ".compact")
        return {"files_before": before, "files_after": n_part_files(src)}

    def maintain(self, spark, sides: dict, count_side: str,
                 after: dict | None = None) -> dict:
        """Apply tombstones physically and compact every side in
        ``sides`` ({side: partition column}) to one file per bucket.
        The removed-id count is taken on ``count_side`` before its
        rewrite; ``after`` maps a side to a hook ``(meta, report)``
        run right after that side's swap, in the same chain. Returns
        the report."""
        meta = self._mutable_meta()
        nb = int(meta[self.nb_key])
        tomb = self.tombstones(spark)
        # each read infers its schema with a Spark job: overlap them
        raw = dict(zip(sides, run_concurrently(*(
            partial(spark.read.parquet, os.path.join(self.path, s))
            for s in sides))))
        # hide() guards the gen column: every side is checked before
        # any side is rewritten
        live = {s: self.hide(rows, tomb) for s, rows in raw.items()}
        report: dict = {}

        def chain(side: str, part: str) -> None:
            if side == count_side:
                report["n_tombstones_applied"] = 0 if tomb is None else (
                    _covered(raw[side], tomb, self.id_col, "left_semi")
                    .select(self.id_col).distinct().count())
            report[side] = self.rewrite(side, live[side], part, nb)
            if after and side in after:
                after[side](meta, report)

        run_concurrently(*(partial(chain, s, p) for s, p in sides.items()))
        self._commit(meta)
        clear_tombstones(self.path)
        return report
