"""Generic skew-bounded bucket → candidate-pair enumeration.

One implementation of the two-layer skew split that every LSH-style
candidate join in the repo shares (audio candidates, document
MinHash-LSH and SimHash blocks), so a hot bucket never costs O(m²):

1. **Sub-bucket split + representative chain** (`cap`): a bucket of m
   members is partitioned — in deterministic sorted-member order — into
   contiguous sub-buckets of <= cap; pairs are enumerated within each
   sub-bucket and the first member of sub-bucket 0 is paired with the
   first member of every other sub-bucket. Pair count is O(m * cap) —
   LINEAR in bucket size — while a true duplicate block still forms ONE
   connected component after verification + union-find.
2. **Block split** (`soft`): each sub-bucket of s members is cut into
   g = ceil(s / soft) contiguous blocks of bs = ceil(s / g) <= soft
   members, and every (i <= j) block pair becomes one ROW carrying both
   member slices — at most soft² pairs of bounded work per row. A bucket
   of <= soft members is the g = 1 case: exactly one row.

The block rows (plus one chain row per bucket above cap) are spread by ONE
explicit-width exchange and enumerated in place with JVM higher-order
array functions: no join, no driver-side measurement, no cache. The
exchange is REPARTITION_BY_NUM, which AQE never coalesces — so a hot
bucket's g(g+1)/2 block rows land on all tasks instead of the few that
AQE's byte-based coalescing would pick from the small input (blind to the
up-to-soft²-fold row amplification downstream). Hashing on the block
contents also lets `dropDuplicates` drop identical block rows across keys
for free: the same member set under many bands is enumerated once.

Contiguous blocks of a sorted array keep member order, so x < y holds
structurally and (a, b) is canonical without least/greatest. Buckets
smaller than `cap` enumerate ALL their pairs — at contract/test scale
(buckets << cap) the output is exactly the naive self-join's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _block_rows(cap: int, soft: int) -> str:
    """SQL: `members` (sorted, size > 1) → array<struct<xs, ys, same>>.

    One row per (sub-bucket, i <= j) contiguous block pair; a diagonal
    row (i == j, `same`) carries its block once, with `ys` empty. Plus one
    chain row xs = [members[0]], ys = first member of every later
    sub-bucket, emitted only when the bucket spans more than one.
    """
    g = f"int(ceil(size(sub) / {soft}))"      # blocks in this sub-bucket
    bs = f"int(ceil(size(sub) / {g}))"        # block size, <= soft

    def blk(ix: str) -> str:
        return f"slice(sub, {ix} * {bs} + 1, {bs})"

    subs = (f"transform(sequence(0, int(ceil(size(members) / {cap})) - 1),"
            f" s -> slice(members, s * {cap} + 1, {cap}))")
    blocks = (f"flatten(transform({subs}, sub -> flatten(transform("
              f"sequence(0, {g} - 1), i -> transform(sequence(i, {g} - 1),"
              f" j -> struct({blk('i')} AS xs, IF(i = j, "
              f"slice(sub, 1, 0), {blk('j')}) AS ys,"
              f" i = j AS same))))))")
    chain = (f"filter(array(struct(slice(members, 1, 1) AS xs, "
             f"filter(members, (x, k) -> k > 0 AND k % {cap} = 0) AS ys, "
             f"false AS same)), r -> size(r.ys) > 0)")
    return f"concat({blocks}, {chain})"


#: block row → its pairs: the triangle within a diagonal block, the full
#: cross product otherwise
_ENUMERATE = ("flatten(transform(xs, (x, k) -> transform(IF(same, "
              "slice(xs, k + 2, size(xs)), ys), y -> struct(x AS a, y AS b))))")


def capped_bucket_pairs(rows: DataFrame, key: list[str], member: str,
                        cap: int, soft: int,
                        dedup_key: list[str] | None = None) -> DataFrame:
    """(key..., member) rows → (out_key..., a, b) canonical candidate
    pairs, where out_key is `dedup_key` when given, else `key`.

    `member` may be an atomic orderable column or a struct whose FIRST
    field is a unique sort key — sort_array orders structs
    lexicographically by leading field, so enumeration matches the
    single-node mirrors (oracle.candidate_pairs_from_feats) that sort
    members the same way. Column names `members xs ys same a b` are
    reserved for internal use and must not appear in `key`.

    `dedup_key`: callers whose downstream collapses the key columns anyway
    (the LSH paths all end in distinct/groupBy over the pair) pass the
    subset of `key` they actually distinguish — usually [] or ["channel"].
    Block rows are deduplicated per out_key, so buckets (of any size)
    with identical member sets under the same dedup_key are enumerated
    ONCE instead of once per bucket: with 32 LSH bands, an m-member
    exact-duplicate group fills one identical bucket PER band. The dedup
    is exact (array equality, no hashing) and a block row's pairs are a
    function of its contents alone, so the pair SET is unchanged; only
    multiplicities the caller was discarding go away. The default (None)
    keeps the full per-bucket output.
    """
    out_key = key if dedup_key is None else list(dedup_key)
    par = rows.sparkSession.sparkContext.defaultParallelism
    return (rows.groupBy(*key)
            .agg(F.sort_array(F.collect_list(member)).alias("members"))
            .where(F.size("members") > 1)
            .select(*out_key, F.inline(F.expr(_block_rows(cap, soft))))
            .repartition(par * 4, *out_key, "xs", "ys", "same")
            .dropDuplicates()
            .select(*out_key, F.inline(F.expr(_ENUMERATE)))
            .where(F.col("a") != F.col("b")))
