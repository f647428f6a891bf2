"""Seeded benchmark inputs and their reference outputs.

Every corpus is made from the ``--seed`` argument with the program's own
generators (``datagen`` for audio clips, ``docgen`` for documents) and
cached under the work directory, keyed by (workload, size, seed). The
program under test only ever receives the generated files. References are
computed once per corpus, before any timed phase:

* audio clips: the single-node NumPy oracle (``oracle.run_oracle``) and
  the planted ground-truth pairs;
* documents: nothing to cache, the expected pair count is closed-form.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
import subprocess
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# corpus sizes: small enough that one run, set-up included, takes about
# a minute on a 4-core host (README.md has the arithmetic)
AUDIO_CLIPS = 1000
DOC_DOCS, DOC_HOT = 4000, 1000

#: rows per parquet row group of an audio corpus: featurize_from_parquet
#: schedules row groups, so this sets how many work units a corpus has
ROW_GROUP = 128


def _synth(spec: pd.DataFrame) -> pd.DataFrame:
    from cdstore_spark import datagen
    return datagen.synth_batch(spec)


def synth_clips(spec: pd.DataFrame, workers: int) -> pd.DataFrame:
    """datagen.synth_batch over spec slices in `workers` spawned processes
    (synthesis is pure per-row NumPy, so slicing changes no byte)."""
    chunks = [c for c in np.array_split(spec, max(1, workers)) if len(c)]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(len(chunks)) as pool:
        parts = pool.map(_synth, chunks)
    return pd.concat(parts, ignore_index=True)


def _write_clips(clips: pd.DataFrame, path: str) -> None:
    from cdstore_spark.golden import _CLIPS_SCHEMA
    pq.write_table(pa.Table.from_pandas(clips, schema=_CLIPS_SCHEMA,
                                        preserve_index=False),
                   path, row_group_size=ROW_GROUP)


class Corpus:
    """One cached input directory. ``build`` runs only when the directory
    is missing; it is written under a temporary name and renamed, so an
    interrupted build never leaves a half corpus behind."""

    def __init__(self, root: str, workload: str, size: str, seed: int):
        self.workload, self.size, self.seed = workload, size, seed
        self.dir = os.path.join(root, "inputs", f"{workload}-{size}-s{seed}")

    def path(self, name: str) -> str:
        return os.path.join(self.dir, name)

    def ensure(self, build) -> "Corpus":
        if os.path.exists(self.path("_DONE.json")):
            return self
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        with open(os.path.join(tmp, "_DONE.json"), "w") as f:
            json.dump({"workload": self.workload, "size": self.size,
                       "seed": self.seed, **meta}, f)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)
        return self

    def meta(self) -> dict:
        with open(self.path("_DONE.json")) as f:
            return json.load(f)


def audio_corpus(root: str, n: int, seed: int, workers: int) -> Corpus:
    """Planted-duplicate audio corpus (``datagen.build_spec(n, n//20,
    seed)``) plus the oracle's confirmed pairs and clusters."""
    def build(d: str) -> dict:
        from cdstore_spark import datagen, oracle
        from cdstore_spark.config import DEFAULT
        spec = datagen.build_spec(n, n // 20, seed)
        clips = synth_clips(spec, workers)
        _write_clips(clips, os.path.join(d, "clips.parquet"))
        datagen.planted_pairs(spec).to_parquet(
            os.path.join(d, "planted.parquet"))
        ref = oracle.run_oracle(clips, DEFAULT)
        ref["confirmed"][["a", "b"]].to_parquet(
            os.path.join(d, "ref_confirmed.parquet"))
        ref["clusters"].to_parquet(os.path.join(d, "ref_clusters.parquet"))
        ref["candidates"][["a", "b"]].to_parquet(
            os.path.join(d, "ref_candidates.parquet"))
        return {"rows": n, "ref_confirmed": len(ref["confirmed"])}
    return Corpus(root, "audio_batch", f"n{n}", seed).ensure(build)


def doc_corpus(root: str, n: int, hot: int, seed: int) -> Corpus:
    """``docgen.ensure_hot_docs(n, hot, seed=seed)``: n random-token docs
    with one planted `hot`-member exact-duplicate group."""
    def build(d: str) -> dict:
        from cdstore_spark.docgen import ensure_hot_docs
        src = ensure_hot_docs(n, hot, seed=seed, data_root=d)
        os.replace(src, os.path.join(d, "docs.parquet"))
        shutil.rmtree(os.path.dirname(src))
        return {"rows": n, "hot": hot}
    return Corpus(root, "doc_hot", f"n{n}-h{hot}", seed).ensure(build)


def read_pairs(path: str) -> set[tuple[str, str]]:
    df = pd.read_parquet(path)
    return set(zip(df["a"].astype(str), df["b"].astype(str)))


def capped_pair_count(m: int, cap: int) -> int:
    """Closed-form pair count of the capped enumerator on one exact-
    duplicate group of m members: all pairs inside each cap-sized
    sub-bucket plus one representative-chain edge per extra sub-bucket."""
    return sum(min(cap, m - s) * (min(cap, m - s) - 1) // 2 + (1 if s else 0)
               for s in range(0, m, cap))


def ensure(work: str, workload: str, seed: int, workers: int) -> Corpus:
    """The workload's corpus for `seed`, built in a child process when it
    is not cached yet, so that generation and the oracle leave nothing in
    the measured process: neither memory nor helper processes."""
    size = {"audio_batch": f"n{AUDIO_CLIPS}",
            "doc_hot": f"n{DOC_DOCS}-h{DOC_HOT}"}[workload]
    corpus = Corpus(work, workload, size, seed)
    if not os.path.exists(corpus.path("_DONE.json")):
        subprocess.run([sys.executable, os.path.abspath(__file__), work,
                        workload, str(seed), str(workers)], check=True)
    return corpus


def _build(work: str, workload: str, seed: int, workers: int) -> None:
    if workload == "audio_batch":
        audio_corpus(work, AUDIO_CLIPS, seed, workers)
    else:
        doc_corpus(work, DOC_DOCS, DOC_HOT, seed)


if __name__ == "__main__":
    _build(sys.argv[1], sys.argv[2], int(sys.argv[3]), int(sys.argv[4]))
