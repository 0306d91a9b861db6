"""Clustering & semantic-dedup registry entries (SURVEY §2 LLM-pipeline
block): distributed k-means over the embeddings table and SemDeDup-style
within-cluster semantic deduplication.

Both entries are value-hash oracled: the whole k-means state machine is
BIGINT fixed-point (see functions/cluster.py for the exactness argument),
so the DuckDB oracle replays every round bit-for-bit with unrolled CTEs —
the graph_pagerank pattern applied to Lloyd iterations.

* ``cluster_kmeans`` — K=8 centroids, 3 full Lloyd rounds, md5-seeded.
  Output (vec_id, cluster, dist_q) puts the argmin, the tie-break AND the
  integer distance of every vector under the driver hash.
* ``dedup_semantic`` — SemDeDup (Abbas et al. 2023): near-duplicate pairs
  are only sought WITHIN a k-means cluster, so the pair space is bounded
  by cluster size instead of corpus². A vector is a duplicate iff an
  earlier (smaller vec_id) cluster-mate has cosine ≥ τ = 0.3; the cosine
  test is pure BIGINT arithmetic on e3-quantized CENTERED vectors:
  dot > 0 AND 100·dot² ≥ 9·‖a‖²·‖b‖² (τ² = 0.09 = 9/100) — no float
  leaves the comparison. Output (vec_id, cluster, is_dup) for every
  vector: the kept/dropped decision is the graded value.

Scale: the k-means rounds are two linear map-side-combining shuffles each
(see functions/cluster.py); the SemDeDup pair join shuffles on the
cluster id, and its skew bound is the largest cluster — the production
knob is k (SemDeDup runs ~100k clusters at web scale so clusters stay
O(corpus/k)). Nothing here is corpus-quadratic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.queries import register, t
from ocr_spark.functions.cluster import (
    Q_CENTER_SPARK,
    Q_SHIFT_SPARK,
    kmeans_assign,
)

K_CLUSTERS = 8
KMEANS_ROUNDS = 3
SEM_TAU2_PCT = 9  # τ = 0.3 → 100·dot² ≥ 9·na·nb
_DIM = 64  # driver embeddings dimension (verified across all SFs)

_Q_SHIFT_SQL = (
    "list_transform(embedding, x -> CAST(round((CAST(x AS DOUBLE) + 1e0)"
    " * 1000, 0) AS BIGINT))"
)
_Q_CENTER_SQL = (
    "list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000, 0)"
    " AS BIGINT))"
)


def _kmeans_cte(rounds: int = KMEANS_ROUNDS, k: int = K_CLUSTERS) -> str:
    """Unrolled-CTE replay of functions/cluster.kmeans_assign: c0 is the
    md5-seeded centroid set; round i assigns (a{i}) against c{i-1} then
    rebuilds centroids (c{i}); the final assignment a{rounds} is the
    argmin against c{rounds-1} — exactly what kmeans_assign returns.
    Ends with a CTE `m(vec_id, qc, cluster, dist_q)`."""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(f"""
a{i} AS (
  SELECT vec_id, q, qc, cid, dist,
    row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn
  FROM (
    SELECT v.vec_id, v.q, v.qc, c.cid,
      CAST(list_sum(list_transform(generate_series(1, {_DIM}),
        d -> (v.q[d] - c.cent[d]) * (v.q[d] - c.cent[d]))) AS BIGINT) AS dist
    FROM q v CROSS JOIN c{i - 1} c)
)""")
        if i < rounds:
            steps.append(f"""
c{i} AS (
  SELECT p.cid, coalesce(u.cent, p.cent) AS cent
  FROM c{i - 1} p LEFT JOIN (
    SELECT cid, list(CAST(s // n AS BIGINT) ORDER BY pos) AS cent FROM (
      SELECT cid, g.d AS pos, CAST(sum(aa.q[g.d]) AS BIGINT) AS s,
             count(*) AS n
      FROM (SELECT * FROM a{i} WHERE rn = 1) aa, generate_series(1, {_DIM}) g(d)
      GROUP BY cid, g.d
    ) GROUP BY cid
  ) u ON u.cid = p.cid
)""")
    return f"""
WITH q AS (
  SELECT vec_id, {_Q_SHIFT_SQL} AS q, {_Q_CENTER_SQL} AS qc FROM embeddings
),
c0 AS (
  SELECT cid, q AS cent FROM (
    SELECT vec_id, q,
      row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
        AS cid
    FROM q) WHERE cid <= {k}
),
{",".join(steps)},
m AS (
  SELECT vec_id, qc, CAST(cid AS BIGINT) AS cluster,
         CAST(dist AS BIGINT) AS dist_q
  FROM a{rounds} WHERE rn = 1
)"""


@register(
    "cluster_kmeans",
    _kmeans_cte() + "\nSELECT vec_id, cluster, dist_q FROM m",
)
def q_cluster_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means (integer-exact — see
    functions/cluster.kmeans_assign for the contract and scale shape)."""
    e = t(spark, sf_dir, "embeddings")
    return kmeans_assign(
        e, id_col="vec_id", vec_col="embedding",
        k=K_CLUSTERS, rounds=KMEANS_ROUNDS,
    )


_PAIR_DOT_SQL = (
    f"CAST(list_sum(list_transform(generate_series(1, {_DIM}),"
    " d -> a.qc[d] * b.qc[d])) AS BIGINT)"
)
_N2_SQL = (
    f"CAST(list_sum(list_transform(generate_series(1, {_DIM}),"
    " d -> {v}.qc[d] * {v}.qc[d])) AS BIGINT)"
)


@register(
    "dedup_semantic",
    # pairs + distinct + left join rather than EXISTS: DuckDB lambdas
    # (list_transform) cannot bind correlated outer columns, so the dot
    # product must be computed in a plain join scope — which also mirrors
    # the Spark plan one-to-one.
    _kmeans_cte() + f""",
n AS (
  SELECT vec_id, qc, cluster,
    {_N2_SQL.format(v='m')} AS n2
  FROM m
),
p AS (
  SELECT b.vec_id AS vb,
    {_PAIR_DOT_SQL} AS dot, a.n2 AS na, b.n2 AS nb
  FROM n a JOIN n b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
),
dup AS (
  SELECT DISTINCT vb FROM p
  WHERE dot > 0 AND 100 * dot * dot >= {SEM_TAU2_PCT} * na * nb
)
SELECT n.vec_id, n.cluster, (d.vb IS NOT NULL) AS is_dup
FROM n LEFT JOIN dup d ON d.vb = n.vec_id
""",
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: semantic near-dup flags, pair space bounded by k-means
    clusters. The earlier-id-wins rule (a vector is a dup iff a SMALLER
    vec_id cluster-mate is within τ) is order-free and exactly
    SQL-expressible, so the whole kept/dropped decision is under the
    driver hash. Cosine never leaves integers: with e3 quantization and
    64 dims, |dot| ≤ 64·531² ≈ 1.8e7, so 100·dot² ≤ 3.3e16 < 2⁶³."""
    e = t(spark, sf_dir, "embeddings")
    asg = kmeans_assign(
        e, id_col="vec_id", vec_col="embedding",
        k=K_CLUSTERS, rounds=KMEANS_ROUNDS,
    )
    n2 = (
        "CAST(aggregate(transform(qc, x -> x * x), CAST(0 AS BIGINT),"
        " (s, v) -> s + v) AS BIGINT)"
    )
    # m feeds three consumers (both self-join sides + the final left
    # join); its lineage re-runs the kmeans argmin assignment each time,
    # so materialize once — dedup_containment's localCheckpoint finding
    # (BENCH/ADJUDICATION_r04.md) applied to the same disease here.
    m = (
        e.select(
            "vec_id", F.expr(Q_CENTER_SPARK.format(col="embedding")).alias("qc")
        )
        .withColumn("n2", F.expr(n2))
        .join(asg.select("vec_id", "cluster"), "vec_id")
        .localCheckpoint(eager=True)
    )
    a = m.select(
        F.col("vec_id").alias("va"),
        F.col("qc").alias("qa"),
        F.col("n2").alias("na"),
        F.col("cluster").alias("ca"),
    )
    b = m.select(
        F.col("vec_id").alias("vb"),
        F.col("qc").alias("qb"),
        F.col("n2").alias("nb"),
        F.col("cluster").alias("cb"),
    )
    dot = (
        "CAST(aggregate(zip_with(qa, qb, (x, y) -> x * y),"
        " CAST(0 AS BIGINT), (s, v) -> s + v) AS BIGINT)"
    )
    dropped = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("va") < F.col("vb")))
        .withColumn("dot", F.expr(dot))
        .filter(
            (F.col("dot") > 0)
            & (
                F.lit(100) * F.col("dot") * F.col("dot")
                >= F.lit(SEM_TAU2_PCT) * F.col("na") * F.col("nb")
            )
        )
        .select(F.col("vb").alias("vec_id"))
        .distinct()
        .withColumn("_dup", F.lit(True))
    )
    return (
        m.join(dropped, "vec_id", "left")
        .select(
            "vec_id",
            "cluster",
            F.coalesce(F.col("_dup"), F.lit(False)).alias("is_dup"),
        )
    )


# --- signed random projection (JL sketch) ------------------------------------------------
# Dimensionality reduction for the embedding column: project 64-d vectors
# onto 8 +-1 directions (Achlioptas 2003 — the database-friendly
# Johnson-Lindenstrauss form: no Gaussians, just sign flips, so the
# "matrix" is 8 literal arrays baked into the plan and the projection is
# a narrow map over the scan, broadcast-free). Signs are md5-derived
# constants, identical in both engines; each output coordinate is ONE
# sequential fold of +-x terms (the fn_vector determinism device), so
# the doubles are bit-identical and survive the value hash.

_RP_OUT_DIMS = 8
_RP_IN_DIMS = 64


def _rp_signs(j: int) -> list[int]:
    import hashlib

    return [
        1 if int(hashlib.md5(f"rp{j}_{i}".encode()).hexdigest()[0], 16) % 2 == 0
        else -1
        for i in range(_RP_IN_DIMS)
    ]


def _rp_oracle() -> str:
    cols = []
    for j in range(_RP_OUT_DIMS):
        lits = ", ".join(f"{s}.0" for s in _rp_signs(j))
        cols.append(
            f"round(list_aggregate(list_transform("
            f"generate_series(1, {_RP_IN_DIMS}),"
            f" i -> CAST(embedding[i] AS DOUBLE) * ([{lits}])[i]),"
            f" 'sum'), 6) AS p{j}"
        )
    return "SELECT vec_id, " + ", ".join(cols) + " FROM embeddings"


@register("sim_random_projection", _rp_oracle())
def q_sim_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-d -> 8-d signed random projection over the embedding column —
    the preprocessing sketch in front of clustering / ANN when the full
    dimension is too wide to shuffle. Zero exchanges: literal sign
    arrays, one fold per output coordinate."""
    e = t(spark, sf_dir, "embeddings")
    cols = [F.col("vec_id")]
    for j in range(_RP_OUT_DIMS):
        lits = ", ".join(
            f"CAST({s} AS DOUBLE)" for s in _rp_signs(j)
        )
        cols.append(
            F.expr(
                f"round(aggregate(zip_with(embedding, array({lits}),"
                f" (x, y) -> CAST(x AS DOUBLE) * y), CAST(0.0 AS DOUBLE),"
                f" (s, v) -> s + v), 6)"
            ).alias(f"p{j}")
        )
    return e.select(*cols)
