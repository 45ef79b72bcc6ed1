"""``lake_ingest``: write-heavy ingest into a lake of a keyed
merge-on-read (MOR) table and a document corpus with a trigram index.

On the blocking path: commit, replay and maintenance in
``sources.manifest`` (the table), and the trigram index lifecycle
over ``pipeline.index_io`` (see ``trgm_index``). No ST_*
UDF runs, so a ``functions``/``geom`` change predicts no change here,
and ``spatial_query`` runs neither the manifest nor the pipeline.

Table upserts favour recent keys, as ingest of late-arriving updates
does. Each cycle is ``COMMITS_PER_CYCLE`` commits (mostly small
``write_delta`` upserts, one ``merge_into``, one ``delete_where``)
followed by ``maintain``, which checkpoints exactly then, so the
snapshot reads at fixed points of the cycle see the same pending
commits on every run. As in a real ingest stream, small commits are
the most frequent writes. Every read is checked against a NumPy model
of the key history.
"""

from __future__ import annotations

import os
from itertools import chain

import numpy as np
import pandas as pd

from perfbench.trgm_index import TrigramIndex
from perfbench.harness import Op, dir_bytes, parquet_layout

# whether the workload calls the registered ST_* SQL functions
ST_FUNCTIONS = False
WHY = ("MOR table commits/merges/deletes/reads/maintain plus trigram-index "
       "churn and probes: sources.manifest and pipeline block, no ST_* UDF runs")
# nominal seconds of one cycle on a 4-vCPU host (sets the cycle count)
CYCLE_S = 18.0
N_ROWS = 100_000
BASE_FILES = 8
COMMITS_PER_CYCLE = 13
UPSERT_ROWS = 2_000
MERGE_ROWS = 1_000
DELETE_SPAN = 3_000
RANGE_SPAN = 10_000
RECENT_SCALE = N_ROWS / 20
SCHEMA = "k long, v long, c long"
ROW_BYTES = 24  # three int64 columns


class Table:
    def __init__(self, spark, seed: int, d: str, tracer):
        self.spark, self.seed, self.dir, self.tr = spark, seed, d, tracer
        self.path = os.path.join(d, "table")
        cap = N_ROWS * 2
        self.val = np.zeros(cap, np.int64)
        self.gen = np.zeros(cap, np.int64)
        self.alive = np.zeros(cap, bool)
        self.top = N_ROWS  # next new key
        self.commits = 0
        self.pending = 0
        self.seen: dict[str, int] = {}
        self.written = 0
        self.user_bytes = 0

    def setup(self) -> dict:
        from geomesa_hive_spark.sources.manifest import write_with_manifest

        os.makedirs(self.dir, exist_ok=True)
        rng = np.random.default_rng([self.seed, 201])
        self.val[:N_ROWS] = rng.integers(0, 1_000_000, N_ROWS)
        self.alive[:N_ROWS] = True
        base = pd.DataFrame({"k": np.arange(N_ROWS, dtype=np.int64),
                             "v": self.val[:N_ROWS], "c": self.gen[:N_ROWS]})
        write_with_manifest(self.spark.createDataFrame(base, SCHEMA), self.path, ["k"],
                            n_files=BASE_FILES, manifest_format="parquet")
        self.seen = self._files()
        return {"table": parquet_layout(self.path)}

    # ------------------------------------------------------------ model

    def _recent_keys(self, rng, n: int) -> np.ndarray:
        off = rng.exponential(RECENT_SCALE, n).astype(np.int64)
        return np.clip(self.top - 1 - off, 0, self.top - 1)

    def _batch(self, rng, n_old: int, n_new: int) -> pd.DataFrame:
        keys = np.unique(np.concatenate([
            self._recent_keys(rng, n_old),
            np.arange(self.top, self.top + n_new, dtype=np.int64)]))
        self.top += n_new
        return pd.DataFrame({"k": keys, "v": rng.integers(0, 1_000_000, len(keys)),
                             "c": np.full(len(keys), self.commits + 1, np.int64)})

    def _apply(self, b: pd.DataFrame) -> None:
        k = b["k"].to_numpy()
        self.val[k] = b["v"].to_numpy()
        self.gen[k] = b["c"].to_numpy()
        self.alive[k] = True

    def _expect(self, lo: int, hi: int) -> tuple[int, int, int]:
        m = self.alive[lo:hi + 1]
        return (int(m.sum()), int(self.val[lo:hi + 1][m].sum()),
                int(self.gen[lo:hi + 1][m].sum()))

    def _files(self) -> dict[str, int]:
        out = {}
        for d, _, files in os.walk(self.path):
            for f in files:
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
        return out

    def _committed(self, user_bytes: int) -> None:
        self.commits += 1
        self.pending += 1
        self._account(user_bytes)

    def _account(self, user_bytes: int) -> None:
        if not self.tr.on:
            return
        now = self._files()
        self.written += sum(s for p, s in now.items() if p not in self.seen)
        self.user_bytes += user_bytes
        self.seen = now

    # ------------------------------------------------------------ ops

    def _upsert(self, rng) -> Op:
        from geomesa_hive_spark.sources.manifest import write_delta

        b = self._batch(rng, UPSERT_ROWS * 7 // 10, UPSERT_ROWS * 3 // 10)

        def run():
            df = self.spark.createDataFrame(b, SCHEMA)
            with self.tr.span("manifest", "write_delta"):
                return write_delta(df, self.path, "k")

        def check(entry):
            self._apply(b)
            self._committed(len(b) * ROW_BYTES)
            return entry["seq"] == self.commits and entry["n_upserts"] == len(b)

        return Op("mor.write_delta", "write", run, check)

    def _merge(self, rng) -> Op:
        from geomesa_hive_spark.sources.manifest import merge_into

        b = self._batch(rng, MERGE_ROWS // 2, MERGE_ROWS // 2)

        def run():
            df = self.spark.createDataFrame(b, SCHEMA)
            with self.tr.span("manifest", "merge_into"):
                return merge_into(df, self.path, "k")

        def check(entry):
            self._apply(b)
            self._committed(len(b) * ROW_BYTES)
            return entry is not None and entry["seq"] == self.commits

        return Op("mor.merge_into", "write", run, check)

    def _delete(self, rng) -> Op:
        from geomesa_hive_spark.sources.manifest import delete_where

        lo = int(self._recent_keys(rng, 1)[0])
        hi = lo + DELETE_SPAN
        pred = f"k >= {lo} AND k < {hi} AND v % 3 = 0"

        def run():
            with self.tr.span("manifest", "delete_where"):
                return delete_where(self.spark, self.path, "k", pred)

        def check(entry):
            ks = np.arange(lo, min(hi, self.top))
            gone = ks[self.alive[ks] & (self.val[ks] % 3 == 0)]
            self.alive[gone] = False
            if len(gone) == 0:
                self._account(0)
                return entry is None
            self._committed(len(gone) * 8)
            return entry is not None and entry["n_deletes"] == len(gone)

        return Op("mor.delete_where", "write", run, check)

    def _maintain(self) -> Op:
        from geomesa_hive_spark.sources.manifest import maintain

        def run():
            with self.tr.span("manifest", "maintain"):
                return maintain(self.spark, self.path, "k",
                                checkpoint_after=COMMITS_PER_CYCLE)

        def check(rep):
            ok = rep["checkpointed"] == (self.pending >= COMMITS_PER_CYCLE)
            if rep["checkpointed"]:
                self.pending = 0
            self._account(0)
            return ok

        return Op("mor.maintain", "write", run, check)

    def _read(self, rng, ranged: bool) -> Op:
        from pyspark.sql import functions as F

        from geomesa_hive_spark.sources.manifest import read_snapshot

        if ranged:
            lo = int(self._recent_keys(rng, 1)[0])
            lo, hi = max(0, lo - RANGE_SPAN // 2), lo + RANGE_SPAN // 2
        else:
            lo, hi = 0, None

        def run():
            self.tr.count("pending_commits_at_read", self.pending)
            with self.tr.span("manifest", "read_snapshot_plan"):
                df = read_snapshot(self.spark, self.path, "k",
                                   key_range=None if hi is None else (lo, hi))
            with self.tr.span("spark", "aggregate"):
                r = df.agg(F.count("*"), F.sum("v"), F.sum("c")).collect()[0]
            got = (int(r[0]), int(r[1] or 0), int(r[2] or 0))
            self.tr.count("result_rows", got[0])
            return got

        def check(got):
            return got == self._expect(lo, self.top - 1 if hi is None else hi)

        return Op("mor.key_range_read" if ranged else "mor.snapshot_read", "read",
                  run, check)

    def warmup(self):
        """One upsert and one snapshot read: both op classes."""
        rng = np.random.default_rng([self.seed, 11, 0])
        return (make() for make in (lambda: self._upsert(rng),
                                    lambda: self._read(rng, False)))

    def cycle(self, c: int):
        """Eleven upserts, a merge and a delete (``COMMITS_PER_CYCLE``
        commits) with a snapshot read after two and a key-range read
        after eight of them, then maintain and a snapshot read after
        it. Small upserts are most of the writes, so the write median
        falls among them rather than between two kinds of op.
        Ops are built lazily: each one's inputs depend on the model
        state its predecessors left."""
        rng = np.random.default_rng([self.seed, 11, c])
        step = {
            "u": lambda: self._upsert(rng), "s": lambda: self._read(rng, False),
            "k": lambda: self._read(rng, True), "m": lambda: self._merge(rng),
            "d": lambda: self._delete(rng), "x": self._maintain,
        }
        return (step[k]() for k in "uusuuumuukuuuduxs")

    # ------------------------------------------------------------ end of run

    def space(self) -> tuple[float, float]:
        """(bytes on disk, bytes of a compact rewrite of the snapshot)."""
        from geomesa_hive_spark.sources.manifest import read_snapshot

        out = os.path.join(self.dir, "compact")
        (read_snapshot(self.spark, self.path, "k").repartitionByRange(BASE_FILES, "k")
         .sortWithinPartitions("k").write.mode("overwrite").parquet(out))
        return float(dir_bytes(self.path)), float(dir_bytes(out))

    def final_check(self) -> bool:
        from geomesa_hive_spark.sources.manifest import read_snapshot

        got = read_snapshot(self.spark, self.path, "k").toPandas().sort_values("k")
        keys = np.flatnonzero(self.alive[:self.top])
        return (np.array_equal(got["k"].to_numpy(), keys)
                and np.array_equal(got["v"].to_numpy(), self.val[keys])
                and np.array_equal(got["c"].to_numpy(), self.gen[keys]))

    def layer_metrics(self) -> dict:
        from perfbench.trace import median_or_zero

        t = self.tr
        return {
            "manifest.write_delta_s": median_or_zero(t.durations("write_delta")),
            "manifest.merge_into_s": median_or_zero(t.durations("merge_into")),
            "manifest.delete_where_s": median_or_zero(t.durations("delete_where")),
            "manifest.read_snapshot_plan_s": median_or_zero(
                t.durations("read_snapshot_plan")),
            "manifest.maintain_s": median_or_zero(t.durations("maintain")),
            "manifest.pending_commits_at_read": float(np.mean(
                t.values("pending_commits_at_read") or [0.0])),
            "manifest.live_files": float(sum(
                1 for p in self._files() if p.endswith(".parquet"))),
            "manifest.bytes_written_per_user_byte": (
                self.written / self.user_bytes if self.user_bytes else 0.0),
        }


class Workload:
    """The table and the index side by side; each cycle runs one table
    cycle, then one index cycle."""

    def __init__(self, spark, seed: int, d: str, tracer):
        self.dir = d
        self.parts = (Table(spark, seed, os.path.join(d, "table"), tracer),
                      TrigramIndex(spark, seed, os.path.join(d, "index"), tracer))

    @property
    def tr(self):
        return self.parts[0].tr

    @tr.setter
    def tr(self, tracer) -> None:
        for p in self.parts:
            p.tr = tracer

    def setup(self) -> dict:
        return {k: v for p in self.parts for k, v in p.setup().items()}

    def warmup(self):
        return chain.from_iterable(p.warmup() for p in self.parts)

    def cycle(self, c: int):
        return chain.from_iterable(p.cycle(c) for p in self.parts)

    def space_amp(self) -> float:
        disk, compact = zip(*(p.space() for p in self.parts))
        return sum(disk) / sum(compact)

    def final_check(self) -> bool:
        return all([p.final_check() for p in self.parts])

    def layer_metrics(self) -> dict:
        return {k: v for p in self.parts for k, v in p.layer_metrics().items()}
