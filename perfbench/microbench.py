"""Kernel timings with no Spark involved, on a fixed sample of inputs:
the first SAMPLE clips or docs in id order, and the first PAIRS candidate
pairs in (a, b) order.

Each figure is the median over rounds of one pass over the sample, in
microseconds per item.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

SAMPLE = 64
PAIRS = 200
#: each kernel repeats whole passes over its sample for at least this long
MIN_SECONDS = 0.4


def _us_per_item(fn, n_items: int) -> float:
    rounds, spent = [], 0.0
    while spent < MIN_SECONDS or len(rounds) < 3:
        t = time.perf_counter()
        fn()
        dt = time.perf_counter() - t
        rounds.append(dt)
        spent += dt
    return float(np.median(rounds)) * 1e6 / max(n_items, 1)


def _minhash_inputs(shingles: list[np.ndarray]):
    offs = np.zeros(len(shingles) + 1, dtype=np.int64)
    np.cumsum([s.shape[0] for s in shingles], out=offs[1:])
    vals = (np.concatenate(shingles) if shingles
            else np.empty(0, np.uint64)).astype(np.uint64, copy=False)
    return vals, offs


def _text_kernels(texts: list[str], short_tokens: int) -> dict:
    from cdstore_spark.config import DEFAULT as CFG
    from cdstore_spark.kernels import sketch, text
    sh = [text.ngram_shingles(t, CFG.text_ngram, short_tokens) for t in texts]
    vals, offs = _minhash_inputs(sh)
    return {
        "doc_shingle_us_per_doc": _us_per_item(
            lambda: [text.ngram_shingles(t, CFG.text_ngram, short_tokens)
                     for t in texts], len(texts)),
        "minhash_us_per_row": _us_per_item(
            lambda: sketch.minhash_batch(vals, offs, CFG), len(texts)),
    }


def clip_kernels(clips: pd.DataFrame, pairs: pd.DataFrame) -> dict:
    """Decode, featurize and MinHash on the first SAMPLE clips, and the
    verify kernels on the first PAIRS of `pairs` (a, b)."""
    from cdstore_spark.config import DEFAULT as CFG
    from cdstore_spark.kernels import clipfeat, codec, suffix
    clips = clips.sort_values("clip_id").reset_index(drop=True)
    sample = clips.head(SAMPLE)
    raw = list(zip(sample["bytes"], sample["codec"].astype(str)))
    out = {
        "decode_us_per_clip": _us_per_item(
            lambda: [codec.decode_float(b, c) for b, c in raw], len(raw)),
        "featurize_us_per_clip": _us_per_item(
            lambda: clipfeat.featurize_batch(sample, CFG), len(sample)),
    }
    pairs = pairs.sort_values(["a", "b"]).head(PAIRS)
    sub = clips[clips["clip_id"].isin(set(pairs["a"]) | set(pairs["b"]))]
    f = clipfeat.featurize_batch(sub, CFG).set_index("clip_id")
    txt = dict(zip(sub["clip_id"], sub["transcript"].astype(str)))
    prs = [(np.asarray(f.at[a, "events"], np.int64),
            np.asarray(f.at[a, "event_ms"]), np.asarray(f.at[a, "event_zcr"]),
            np.asarray(f.at[b, "events"], np.int64),
            np.asarray(f.at[b, "event_zcr"]), txt[a], txt[b])
           for a, b in zip(pairs["a"], pairs["b"])]
    out["verify_audio_us_per_pair"] = _us_per_item(
        lambda: [clipfeat.verify_audio_pair(ea, ma, za, eb, zb, CFG)
                 for ea, ma, za, eb, zb, _, _ in prs], len(prs))
    out["verify_text_us_per_pair"] = _us_per_item(
        lambda: [clipfeat.verify_text_pair(ta, tb)
                 for *_, ta, tb in prs], len(prs))
    out["lcs_us_per_pair"] = _us_per_item(
        lambda: [suffix.longest_common_run(p[0], p[3]) for p in prs],
        len(prs))
    return out


def kernel_metrics(workload: str, corpus, seed: int) -> dict:
    """Every kernel figure for one workload. audio_batch samples its own
    clips and reference candidate pairs. doc_hot samples its own docs for
    the text kernels; it has no clips, so the clip kernels run on a small
    corpus datagen makes from the same seed, with its planted pairs."""
    from cdstore_spark import datagen
    from cdstore_spark.config import DEFAULT as CFG
    if workload == "audio_batch":
        clips = pq.read_table(corpus.path("clips.parquet")).to_pandas()
        pairs = pd.read_parquet(corpus.path("ref_candidates.parquet"))
        texts = list(clips.sort_values("clip_id")["transcript"]
                     .astype(str).head(SAMPLE))
        short = CFG.text_short_tokens
    else:
        spec = datagen.build_spec(4 * SAMPLE, SAMPLE, seed)
        clips, pairs = datagen.synth_batch(spec), datagen.planted_pairs(spec)
        docs = pq.read_table(corpus.path("docs.parquet"),
                             columns=["doc_id", "text"]).to_pandas()
        texts = list(docs.sort_values("doc_id")["text"].astype(str)
                     .head(SAMPLE))
        short = 0       # doc_signatures shingles pure n-grams
    return {**clip_kernels(clips, pairs), **_text_kernels(texts, short)}
