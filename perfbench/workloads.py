"""The workloads: what one operation does and how its output is checked.

Each operation calls the program only through its public functions, with
a span around every layer call. ``persist`` + ``count`` at each stage
boundary makes every stage finish inside its own span; the untraced and
the traced runs execute exactly the same calls, so the difference
between their walls is the cost of tracing.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from spans import Tracer


@dataclass
class OpResult:
    """One operation: its wall, whether its output check passed, and the
    handles/counts the traced run reads afterwards."""
    wall: float
    ok: bool
    detail: dict = field(default_factory=dict)
    frames: dict = field(default_factory=dict)
    stages: dict = field(default_factory=dict)

    def release(self) -> None:
        for df in self.frames.values():
            df.unpersist()


# --- set-up -----------------------------------------------------------------

def _warm_fn(batches):
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    from cdstore_spark.kernels import (clipfeat, codec, features,  # noqa: F401
                                       sketch, suffix, text)
    yield from batches


def start_session(cores: int, work: str, ui: bool = False):
    """Session start plus the warmup passes every bench session makes: a
    JVM-only job, one mapInPandas pass that forks the Python workers and
    imports the kernels in each, and one tiny capped_bucket_pairs plan
    (JIT of the analyzer rules the enumeration uses).

    Returns (spark, session_s, warmup_s)."""
    from cdstore_spark.engine.bucket_pairs import capped_bucket_pairs
    from cdstore_spark.engine.session import get_spark
    conf = {
        # short-lived sessions: the async context cleaner only adds a
        # benign accumulator race; memory it would free lives until stop()
        "spark.cleaner.referenceTracking": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if ui:
        conf.update({"spark.ui.enabled": "true", "spark.ui.port": "0",
                     "spark.ui.retainedJobs": "100000",
                     "spark.ui.retainedStages": "100000",
                     "spark.sql.ui.retainedExecutions": "100000"})
    t0 = time.time()
    spark = get_spark("perfbench", parallelism=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.time()
    spark.range(10000).selectExpr("sum(id)").collect()
    (spark.range(cores * 4).repartition(cores)
     .mapInPandas(_warm_fn, "id long").count())
    tiny = spark.createDataFrame([(1, 0), (1, 1), (2, 0), (2, 1), (2, 2)],
                                 "k int, m int")
    capped_bucket_pairs(tiny, ["k"], "m", cap=2, soft=2).count()
    return spark, t1 - t0, time.time() - t1


# --- audio_batch ------------------------------------------------------------

def audio_op(spark, corpus, tr: Tracer, keep: bool = False) -> OpResult:
    """featurize_from_parquet → candidate_pairs → verify_candidates →
    connected_components; checked against the oracle and the planted
    pairs."""
    from cdstore_spark.config import DEFAULT as CFG
    from cdstore_spark.engine import candidates as S_cand
    from cdstore_spark.engine import cluster as S_clust
    from cdstore_spark.engine import featurize as S_feat
    from cdstore_spark.engine import verify as S_verify
    from cdstore_spark.engine.scope import cache_scope
    path = corpus.path("clips.parquet")
    with tr.span("job") as job:
        with tr.span("featurize"):
            feats = S_feat.featurize_from_parquet(spark, path, CFG).persist()
            n = feats.count()
        with tr.span("candidates"):
            with cache_scope():
                cand, skew = S_cand.candidate_pairs(feats, CFG)
                cand = cand.persist()
                n_cand = cand.count()
        with tr.span("verify"):
            with cache_scope():
                conf = S_verify.verify_candidates(
                    cand, feats, CFG, n_feats=n, n_cand=n_cand).persist()
                n_conf = conf.count()
        with tr.span("cluster"):
            clus = S_clust.connected_components(
                conf.select("a", "b"),
                S_feat.load_clips(spark, path).select("clip_id"),
                edges_distinct=True).persist()
            clus.count()
    frames = {"feats": feats, "cand": cand, "conf": conf, "clus": clus,
              "skew": skew}
    ok, detail = check_audio(corpus, conf, clus)
    res = OpResult(job.wall, ok, {**detail, "rows": n, "candidates": n_cand,
                                  "confirmed": n_conf, "cpu_s": job.cpu},
                   frames, tr.walls())
    if not keep:
        res.release()
    return res


#: planted-pair recall floor (cluster-level, transitive credit): reported
#: with every check but not gated, see check_audio
RECALL_FLOOR = 0.99


def check_audio(corpus, conf, clus) -> tuple[bool, dict]:
    """Pass when the confirmed pairs and the cluster assignment equal the
    single-node oracle's exactly and no hard-negative pair shares a
    cluster.

    Recall against the planted pairs is reported beside it. It is a
    property of the shared configuration (the oracle scores the same), and
    a 1,000-clip corpus holds ~50 planted pairs, so one missed pair moves
    it by 2%: the oracle itself scores 0.979 and 0.912 on seeds 10 and 11
    (and 0.9897 on seed 405 at 2,000 clips). `recall_floor_met` records
    whether it reached RECALL_FLOOR.
    """
    import pandas as pd
    from cdstore_spark import oracle
    from inputs import read_pairs
    got = {(r["a"], r["b"]) for r in conf.select("a", "b").collect()}
    want = read_pairs(corpus.path("ref_confirmed.parquet"))
    cl = clus.toPandas().astype(str).sort_values("clip_id")
    ref_cl = (pd.read_parquet(corpus.path("ref_clusters.parquet"))
              .astype(str).sort_values("clip_id"))
    clusters_equal = cl.reset_index(drop=True).equals(
        ref_cl.reset_index(drop=True))
    q = oracle.recall_vs_planted(
        pd.DataFrame(sorted(got), columns=["a", "b"]),
        pd.read_parquet(corpus.path("planted.parquet")), cl)
    detail = {"pairs_equal_oracle": got == want,
              "missing_vs_oracle": len(want - got),
              "extra_vs_oracle": len(got - want),
              "clusters_equal_oracle": clusters_equal,
              "recall": q["recall"],
              "recall_floor_met": q["recall"] >= RECALL_FLOOR,
              "hard_negative_hits": q["hard_negative_hits"]}
    ok = got == want and clusters_equal and q["hard_negative_hits"] == 0
    return ok, detail


# --- doc_hot ----------------------------------------------------------------

def doc_op(spark, corpus, tr: Tracer, keep: bool = False) -> OpResult:
    """minhash_lsh_pairs → connected_components over the hot-group
    corpus; checked against the closed-form capped pair count and the
    single planted cluster."""
    from pyspark.sql import functions as F
    from cdstore_spark.engine.cluster import connected_components
    from cdstore_spark.engine.scope import cache_scope
    from cdstore_spark.functions import textops as X
    docs = spark.read.parquet(corpus.path("docs.parquet"))
    with tr.span("job") as job:
        with tr.span("verify"):
            with cache_scope():
                pairs = X.minhash_lsh_pairs(docs).persist()
                n_pairs = pairs.count()
        with tr.span("cluster"):
            clus = connected_components(
                pairs.select("a", "b"),
                docs.select(F.col("doc_id").alias("clip_id")),
                edges_distinct=True)
            big = (clus.groupBy("cluster_id").count()
                   .where("count > 1").collect())
    ok, detail = check_doc(corpus, n_pairs, big)
    res = OpResult(job.wall, ok, {**detail, "pairs": n_pairs,
                                  "cpu_s": job.cpu},
                   {"pairs": pairs, "docs": docs, "clus": clus}, tr.walls())
    if not keep:
        res.release()
    return res


def check_doc(corpus, n_pairs: int, big) -> tuple[bool, dict]:
    from cdstore_spark.config import DEFAULT as CFG
    from inputs import capped_pair_count
    hot = corpus.meta()["hot"]
    want = capped_pair_count(hot, CFG.bucket_cap)
    sizes = sorted(int(r["count"]) for r in big)
    detail = {"pairs_expected": want, "nonsingleton_sizes": sizes[:8]}
    return n_pairs == want and sizes == [hot], detail
