"""Distributed k-means over embedding vectors, integer-exact.

The engine's clustering primitive exists for the corpus-organization jobs
a training-data pipeline runs over document embeddings: topic bucketing,
cluster-balanced sampling, and SemDeDup-style semantic deduplication
(Abbas et al. 2023 — dedup within k-means clusters so the pair space is
bounded by cluster size, never corpus-quadratic).

Exactness contract (the same discipline as functions/graph.pagerank): the
whole state machine runs on BIGINTs so a DuckDB oracle can replay it
bit-for-bit and partial-aggregation order can never change a result.

* Vectors are quantized ONCE, map-side, to e3 fixed-point **shifted into
  the non-negative domain**: q[d] = round((x + 1.0) * 1000). The shift
  cancels in every squared distance ((a+1000)-(c+1000) = a-c) and keeps
  every centroid-mean division non-negative, so Spark's `DIV` and
  DuckDB's `//` (which disagree on negatives: truncation vs floor) are
  the same function. No rounding tie can ever differ across engines:
  a tie needs (double(x)+1)*1000 to land exactly on n+0.5, i.e. a dyadic
  rational equal to (2n+1)/2000 — impossible (the denominator has a
  factor 125).
* Distances are integer sums of squared integer diffs (≤ 64 · 2000² ≈
  2.6e8 — nowhere near BIGINT range), evaluated as a JVM HOF
  (zip_with + aggregate) over the broadcast centroid array: no Python,
  no per-dimension explode on the assignment side.
* Centroid update: per-dimension BIGINT sum / count with `DIV` —
  integer, exact, order-free. Posexplode only here (k·dim rows after the
  map-side partial agg, tiny).
* Seeding: the k vectors with the smallest md5(CAST(id AS VARCHAR)) —
  both engines produce identical hex strings, and the selection is a
  TakeOrderedAndProject (per-partition top-k + driver merge of k rows),
  never a global sort.

Scale shape per round (the classic distributed k-means): one broadcast
crossJoin (k rows) with the argmin collapsed by a partial-aggregating
groupBy(id) — the shuffle carries one row per vector, not k; then one
groupBy(cid, dim) whose map-side combine reduces every task's output to
at most k·dim rows before the exchange. The centroid rounds run in
functions/iterate's lazy mode. Empty clusters keep their previous
centroid (left join + coalesce — the same rule the oracle replays).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ocr_spark.functions.iterate import cached, iterate

# e3 fixed-point, shifted to the non-negative domain (see module doc).
Q_SHIFT_SPARK = (
    "transform({col}, x -> CAST(round((CAST(x AS DOUBLE) + 1.0D) * 1000, 0)"
    " AS BIGINT))"
)
# Centered variant for cosine arithmetic (dedup_semantic): the shift must
# NOT apply to dot products.
Q_CENTER_SPARK = (
    "transform({col}, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0)"
    " AS BIGINT))"
)

_DIST = (
    "CAST(aggregate(zip_with(q, cent, (x, c) -> (x - c) * (x - c)),"
    " CAST(0 AS BIGINT), (s, v) -> s + v) AS BIGINT)"
)


def kmeans_assign(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    rounds: int = 3,
) -> DataFrame:
    """Lloyd k-means, `rounds` full iterations → (id, cluster, dist_q).

    The returned assignment is the argmin against the round-(rounds-1)
    centroids — i.e. the assignment that PRODUCED the final centroid set,
    which is what the unrolled oracle replays. dist_q is the integer
    squared distance in (e3, shifted) units. The assignment is a lazy
    broadcast join against the checkpointed k-row centroid frame.
    """
    v = df.select(
        F.col(id_col).alias("_id"),
        F.expr(Q_SHIFT_SPARK.format(col=vec_col)).alias("q"),
    )

    def assign(cent: DataFrame) -> DataFrame:
        # Argmin by (dist, cid): min over a struct is the lexicographic
        # tie-break the oracle's row_number(ORDER BY dist, cid) replays.
        # q is functionally dependent on _id, so first() is deterministic.
        return (
            v.crossJoin(F.broadcast(cent))
            .select(
                "_id",
                "q",
                F.struct(
                    F.expr(_DIST).alias("dist"), F.col("cid").alias("cid")
                ).alias("dc"),
            )
            .groupBy("_id")
            .agg(F.min("dc").alias("dc"), F.first("q").alias("q"))
        )

    def update(cent: DataFrame) -> DataFrame:
        upd = (
            assign(cent)
            .select(F.col("dc.cid").alias("cid"), "q")
            .select("cid", F.posexplode("q").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
            .select("cid", "pos", F.expr("s DIV n").alias("m"))
            .groupBy("cid")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct("pos", "m"))
                ).alias("pm")
            )
            .select(
                "cid", F.expr("transform(pm, x -> x.m)").alias("ucent")
            )
        )
        return (
            cent.alias("p")
            .join(upd.alias("u"), "cid", "left")
            .select(
                "cid",
                F.coalesce(F.col("u.ucent"), F.col("p.cent")).alias("cent"),
            )
        )

    # Seed: k smallest md5(id) — TakeOrderedAndProject, then a k-row window
    # to number them 1..k in the same order.
    seed = (
        v.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
        .limit(k)
    )
    w0 = Window.orderBy(F.md5(F.col("_id").cast("string")), F.col("_id"))
    cent0 = seed.withColumn("cid", F.row_number().over(w0)).select(
        "cid", F.col("q").alias("cent")
    )
    with cached(cent0):
        cent, _ = iterate(update, cent0, rounds - 1)
    return assign(cent).select(
        F.col("_id").alias(id_col),
        F.col("dc.cid").cast("bigint").alias("cluster"),
        F.col("dc.dist").cast("bigint").alias("dist_q"),
    )
