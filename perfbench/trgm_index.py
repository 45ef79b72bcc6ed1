"""The document-index half of ``lake_ingest``: a persisted trigram index.

The trigram index (``pipeline.trgm`` over ``pipeline.index_io``) takes
append, delete and upsert batches, answers substring probes, and is
maintained after each round of the three batches; its probe is among
the job-heaviest paths of the package. (The BM25 and MinHash indexes
are left out to keep a run inside the benchmark's time budget.)

Text is drawn from a seeded Zipf vocabulary of lowercase words joined
by single spaces, so the index's case folding leaves it unchanged and a
plain substring scan of the live documents is the oracle.
"""

from __future__ import annotations

import os
from functools import partial

import numpy as np
import pandas as pd

from perfbench.harness import Op, dir_bytes

N_DOCS = 2_000
VOCAB = 3_000
ZIPF_S = 1.07
WORDS = (20, 60)
N_BUCKETS = 8
APPEND_DOCS = 40
DELETE_DOCS = 15
UPSERT_DOCS = 15


def _vocab(rng) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    out: set[str] = set()
    while len(out) < VOCAB:
        n = int(rng.integers(3, 9))
        out.add("".join(rng.choice(letters, n)))
    return sorted(out)


class TrigramIndex:
    def __init__(self, spark, seed: int, d: str, tracer):
        self.spark, self.seed, self.dir, self.tr = spark, seed, d, tracer
        self.path = os.path.join(d, "trgm")
        rng = np.random.default_rng([seed, 301])
        self.words = _vocab(rng)
        p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
        self.p = p / p.sum()
        self.docs: dict[int, str] = {}
        self.stored = 0
        self.tombstoned: set[int] = set()
        self.next_id = 0
        self.fresh_density = 1.0

    def _text(self, rng) -> str:
        n = int(rng.integers(WORDS[0], WORDS[1] + 1))
        return " ".join(self.words[i] for i in rng.choice(VOCAB, n, p=self.p))

    def _frame(self, rows: dict[int, str]):
        return self.spark.createDataFrame(
            pd.DataFrame({"id": np.fromiter(rows, np.int64, len(rows)),
                          "text": list(rows.values())}), "id long, text string")

    def setup(self) -> dict:
        from geomesa_hive_spark.pipeline.trgm import build_trgm_index

        os.makedirs(self.dir, exist_ok=True)
        rng = np.random.default_rng([self.seed, 302])
        self.docs = {i: self._text(rng) for i in range(N_DOCS)}
        self.next_id = self.stored = N_DOCS
        df = self._frame(self.docs).localCheckpoint()
        build_trgm_index(df, "id", "text", self.path, n_buckets=N_BUCKETS)
        self.fresh_density = self._index_bytes() / self._doc_bytes()
        return {"trgm": {"files": _n_parquet(self.path), "bytes": self._index_bytes()}}

    def _index_bytes(self) -> int:
        return dir_bytes(self.path)

    def _doc_bytes(self) -> int:
        return sum(len(t) for t in self.docs.values())

    # ------------------------------------------------------------ writes
    #
    # The model: ``docs`` is the live corpus, ``stored`` the documents
    # the index holds physically (its meta ``n_docs``: tombstoned ones
    # stay until maintain drops them), ``tombstoned`` the ids deleted
    # since the last maintain.

    def _write(self, kind: str, fn, check) -> Op:
        def run():
            with self.tr.span("pipeline", f"trgm.{kind}"):
                return fn()

        return Op(f"trgm.{kind}", "write", run, check)

    def _append(self, rng) -> Op:
        from geomesa_hive_spark.pipeline.trgm import append_to_trgm_index

        rows = {}
        for _ in range(APPEND_DOCS):
            rows[self.next_id] = self._text(rng)
            self.next_id += 1

        def check(meta):
            self.docs.update(rows)
            self.stored += len(rows)
            return meta["n_docs"] == self.stored

        return self._write(
            "append", lambda: append_to_trgm_index(self._frame(rows), "id", "text", self.path),
            check)

    def _delete(self, rng) -> Op:
        from geomesa_hive_spark.pipeline.trgm import delete_from_trgm_index

        ids = [int(i) for i in rng.choice(sorted(self.docs), DELETE_DOCS, replace=False)]

        def delete():
            keys = self.spark.createDataFrame([(i,) for i in ids], "id long")
            return delete_from_trgm_index(keys, "id", self.path)

        def check(value):
            # the effect shows in later probes and in maintain's report
            for i in ids:
                del self.docs[i]
            self.tombstoned.update(ids)
            return value is None

        return self._write("delete", delete, check)

    def _upsert(self, rng) -> Op:
        from geomesa_hive_spark.pipeline.trgm import (append_to_trgm_index,
                                                      delete_from_trgm_index)

        ids = [int(i) for i in rng.choice(sorted(self.docs), UPSERT_DOCS, replace=False)]
        rows = {i: self._text(rng) for i in ids}

        def upsert():
            # the trigram index's upsert is delete + append (its contract)
            df = self._frame(rows)
            delete_from_trgm_index(df.select("id"), "id", self.path)
            return append_to_trgm_index(df, "id", "text", self.path)

        def check(meta):
            self.docs.update(rows)
            self.tombstoned.update(ids)
            self.stored += len(rows)
            return meta["n_docs"] == self.stored

        return self._write("upsert", upsert, check)

    def _maintain(self) -> Op:
        from geomesa_hive_spark.pipeline.trgm import maintain_trgm_index

        def check(rep):
            ok = (rep["n_tombstones_applied"] == len(self.tombstoned)
                  and rep["n_docs"] == len(self.docs))
            self.tombstoned.clear()
            self.stored = len(self.docs)
            return ok

        return self._write("maintain", lambda: maintain_trgm_index(self.spark, self.path),
                           check)

    # ------------------------------------------------------------ probes

    def _probe(self, rng) -> Op:
        from geomesa_hive_spark.pipeline.trgm import substring_query_index

        text = self.docs[int(rng.choice(sorted(self.docs)))]
        starts = [0] + [i + 1 for i, ch in enumerate(text) if ch == " "]
        a = int(rng.choice(starts))
        pattern = text[a:a + int(rng.integers(6, 11))]

        def run():
            rep: dict = {}
            with self.tr.span("pipeline", "trgm.probe"):
                got = {r.id for r in substring_query_index(
                    self.spark, self.path, pattern, prune_report=rep).collect()}
            self.tr.count("trgm.buckets_read_ratio",
                          rep["post_buckets_read"] / rep["n_buckets"])
            return got

        return Op("trgm.probe", "read", run,
                  lambda got: got == {i for i, t in self.docs.items() if pattern in t})

    def warmup(self):
        """One append and one probe: both op classes, without the cost
        of a whole cycle."""
        rng = np.random.default_rng([self.seed, 13, 0])
        return (make() for make in (lambda: self._append(rng), lambda: self._probe(rng)))

    def cycle(self, c: int):
        """One batch of each mutation, then maintenance, with a probe
        after each of them and one more at the end: probes are most of
        the reads, so the read median falls among them.
        Ops are built lazily: each one's inputs depend on the corpus
        its predecessors left."""
        rng = np.random.default_rng([self.seed, 13, c])
        probe = partial(self._probe, rng)
        steps = (lambda: self._append(rng), probe, lambda: self._delete(rng), probe,
                 lambda: self._upsert(rng), probe, self._maintain, probe, probe)
        return (make() for make in steps)

    # ------------------------------------------------------------ end of run

    def space(self) -> tuple[float, float]:
        """(bytes on disk, bytes a fresh build of the live documents
        takes), the latter scaled from the density measured at set-up."""
        return float(self._index_bytes()), self._doc_bytes() * self.fresh_density

    def final_check(self) -> bool:
        from geomesa_hive_spark.pipeline.trgm import trgm_index_meta

        return trgm_index_meta(self.path)["n_docs"] == self.stored

    def layer_metrics(self) -> dict:
        from perfbench.trace import median_or_zero

        t = self.tr
        out = {f"pipeline.trgm.{k}_s": median_or_zero(t.durations(f"trgm.{k}"))
               for k in ("append", "delete", "upsert", "maintain", "probe")}
        out["pipeline.trgm.buckets_read_ratio"] = float(np.mean(
            t.values("trgm.buckets_read_ratio") or [0.0]))
        out["pipeline.index_bytes_per_doc_byte"] = self._index_bytes() / self._doc_bytes()
        return out


def _n_parquet(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)
