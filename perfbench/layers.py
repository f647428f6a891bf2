"""The traced run's per-layer figures: Spark stage metrics per span,
enumeration / verify / cluster counts, and the Arrow boundary.

Everything here runs after the traced operation's spans have closed, so
none of it is inside a span or a timed wall. A count that has no meaning
on a workload (content-pair reuse on doc_hot) reads 0.
"""

from __future__ import annotations

import time

from spans import STAGE_FIELDS, StageMetrics, Tracer
from workloads import audio_op, doc_op

#: stage spans, in pipeline order. doc_hot fills the same four slots:
#: doc_signatures (featurize), capped_bucket_pairs on the persisted
#: signature bands (candidates), the whole minhash_lsh_pairs call the job
#: makes, exact-Jaccard verification included (verify), and cluster
STAGES = ("featurize", "candidates", "verify", "cluster")

COUNTS = ("candidates.pairs", "candidates.max_bucket", "bucket_pairs.pairs",
          "bucket_pairs.naive_ratio", "verify.confirmed", "verify.yield",
          "verify.content_pairs_per_pair", "cluster.edges",
          "cluster.nonsingleton")


def _identity(batches):
    yield from batches


def _batch_bytes(batches):
    import pyarrow as pa
    for b in batches:
        yield pa.RecordBatch.from_pydict({"nbytes": [b.nbytes]})


def arrow_boundary(frames) -> dict:
    """For each frame (the columns one of the workload's mapInPandas calls
    receives or returns): Arrow bytes per batch, and the crossing time,
    an identity mapInPandas over the cached frame minus a plain count of
    it. Summed over the frames."""
    total_bytes, batches, crossing = 0, 0, 0.0
    for df in frames:
        df = df.persist()
        df.count()
        t = time.perf_counter()
        df.count()
        plain = time.perf_counter() - t
        t = time.perf_counter()
        df.mapInPandas(_identity, df.schema).count()
        crossing += time.perf_counter() - t - plain
        sizes = [r["nbytes"] for r in
                 df.mapInArrow(_batch_bytes, "nbytes long").collect()]
        total_bytes += sum(sizes)
        batches += len(sizes)
        df.unpersist()
    return {"arrow.mb_per_batch": total_bytes / max(batches, 1) / 2 ** 20,
            "arrow.crossing_s": crossing}


def _naive_pairs(bands, key) -> tuple[int, int]:
    """(pairs a naive per-bucket self-join would emit, largest bucket)."""
    from pyspark.sql import functions as F
    row = (bands.groupBy(*key).count()
           .agg(F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("n"),
                F.max("count").alias("mx")).collect()[0])
    return int(row["n"] or 0), int(row["mx"] or 0)


def _nonsingleton(clus) -> int:
    return clus.groupBy("cluster_id").count().where("count > 1").count()


def traced_audio(spark, corpus, tr: Tracer) -> tuple[float, dict, dict]:
    from pyspark.sql import functions as F
    from cdstore_spark.config import DEFAULT as CFG
    from cdstore_spark.engine.bucket_pairs import capped_bucket_pairs
    from cdstore_spark.engine.candidates import explode_bands
    from cdstore_spark.engine.scope import cache_scope
    res = audio_op(spark, corpus, tr, keep=True)
    fr = res.frames
    n_cand, n_conf = res.detail["candidates"], res.detail["confirmed"]
    key = ["channel", "band_idx", "band_hash"]
    bands = explode_bands(fr["feats"], CFG)
    with cache_scope():
        n_bp = capped_bucket_pairs(bands, key, "clip_id", cap=CFG.bucket_cap,
                                   soft=CFG.bucket_soft,
                                   dedup_key=["channel"]).count()
    naive, _ = _naive_pairs(bands, key)
    side = fr["feats"].select("clip_id", "vk", "tk")
    content = (fr["cand"]
               .join(side.toDF("a", "vk_a", "tk_a"), "a")
               .join(side.toDF("b", "vk_b", "tk_b"), "b")
               .select("vk_a", "tk_a", "vk_b", "tk_b").distinct().count())
    counts = {
        "candidates.pairs": n_cand,
        "candidates.max_bucket": max(r["max_bucket"]
                                     for r in fr["skew"].collect()),
        "bucket_pairs.pairs": n_bp,
        "bucket_pairs.naive_ratio": n_bp / max(naive, 1),
        "verify.confirmed": n_conf,
        "verify.yield": n_conf / max(n_cand, 1),
        "verify.content_pairs_per_pair": content / max(n_cand, 1),
        "cluster.edges": n_conf,
        "cluster.nonsingleton": _nonsingleton(fr["clus"]),
    }
    ren = {"simhash_audio": "sha", "simhash_text": "sht", "vk": "vk",
           "tk": "tk", "vpack": "vpack", "transcript": "transcript"}
    verify_in = fr["cand"]
    for s in ("a", "b"):
        verify_in = verify_in.join(fr["feats"].select(
            F.col("clip_id").alias(s),
            *[F.col(c).alias(f"{n}_{s}") for c, n in ren.items()]), s)
    counts.update(arrow_boundary([fr["feats"], verify_in]))
    res.release()
    return res.wall, counts, res.detail


def traced_doc(spark, corpus, tr: Tracer) -> tuple[float, dict, dict]:
    from pyspark.sql import functions as F
    from cdstore_spark.config import DEFAULT as CFG
    from cdstore_spark.engine.bucket_pairs import capped_bucket_pairs
    from cdstore_spark.engine.scope import cache_scope
    from cdstore_spark.functions import textops as X
    docs = spark.read.parquet(corpus.path("docs.parquet"))
    # the two halves of minhash_lsh_pairs' candidate side, each in its
    # own span: signatures, then the capped enumerator on persisted ones
    with tr.span("featurize"):
        sigs = X.doc_signatures(docs, CFG).persist()
        sigs.count()
    bands = sigs.select("doc_id", F.posexplode("bands").alias("band_idx",
                                                              "bh"))
    with tr.span("candidates"):
        with cache_scope():
            bp = capped_bucket_pairs(bands, ["band_idx", "bh"], "doc_id",
                                     cap=CFG.bucket_cap, soft=CFG.bucket_soft,
                                     dedup_key=[]).persist()
            n_bp = bp.count()
    res = doc_op(spark, corpus, tr, keep=True)
    naive, max_bucket = _naive_pairs(bands, ["band_idx", "bh"])
    n_cand = bp.select("a", "b").distinct().count()
    counts = {
        "candidates.pairs": n_cand,
        "candidates.max_bucket": max_bucket,
        "bucket_pairs.pairs": n_bp,
        "bucket_pairs.naive_ratio": n_bp / max(naive, 1),
        "verify.confirmed": res.detail["pairs"],
        "verify.yield": res.detail["pairs"] / max(n_cand, 1),
        "cluster.edges": res.detail["pairs"],
        "cluster.nonsingleton": _nonsingleton(res.frames["clus"]),
    }
    counts.update(arrow_boundary([docs.select("doc_id", "text")]))
    for df in (sigs, bp):
        df.unpersist()
    res.release()
    return res.wall, counts, res.detail


def stage_table(spark, tr: Tracer, cores: int) -> dict:
    """`<stage>.<field>` for every stage in STAGES; 0 for stages the
    workload has no span for."""
    sm = StageMetrics(spark)
    out = {f"{st}.{f}": 0.0 for st in STAGES for f in STAGE_FIELDS}
    for sp in tr.spans:
        if sp.name in STAGES:
            for f, v in sm.for_span(sp, tr, cores).items():
                out[f"{sp.name}.{f}"] = v
    return out
