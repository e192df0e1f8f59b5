"""HITS (Kleinberg hubs & authorities) over the edge table.

Link-analysis companion to PageRank on the same infrastructure (no reference
impl; standard published recurrence over the simple directed graph):

    a = L2-normalize(Aᵀ h)   (authority: sum of in-neighbor hub scores)
    h = L2-normalize(A a)    (hub: sum of out-neighbor authority scores)

until Σ|Δh| + Σ|Δa| < tol. Deterministic init h = 1/√n. Physical layout
mirrors the PageRank gather: the edge set is deduped, cached, and the score
vector is either broadcast into each half-step's join (n small) or shuffle-
gathered with optional salt-split skew handling (n > BROADCAST_NODE_LIMIT)
— the same auto strategy as pagerank.py; lineage is truncated every
iteration.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F


@dataclass
class HitsResult:
    scores: DataFrame  # (id, hub, authority)
    iterations: int
    converged: bool
    final_delta: float
    metrics: list[dict] = field(default_factory=list)


def hits(
    edges: DataFrame,
    max_iter: int = 50,
    tol: float = 1e-8,
    num_partitions: int | None = None,
    broadcast_scores: bool | None = None,
    salt_buckets: int | None = None,
    check_every: int = 1,
) -> HitsResult:
    """Returns (id, hub DOUBLE, authority DOUBLE) over src ∪ dst.

    Duplicate edges are collapsed (HITS is defined on the simple graph);
    self-loops participate as in the adjacency-matrix formulation.

    broadcast_scores: gather strategy, mirroring pagerank's auto switch.
    True → the per-node score vector is broadcast into each half-step join
    (exchange-light, valid while n is broadcastable). False → shuffle
    gather, the path for n too big to broadcast; with salt_buckets=S the
    aggregation is an explicit two-stage skew split on (key_out, salt).
    None (default) → auto: broadcast iff n ≤ pagerank.BROADCAST_NODE_LIMIT.
    Both strategies compute the identical recurrence (float sum order may
    differ at the last ulp).

    check_every: cadence of the convergence-stats job (the 4-way delta join +
    driver collect) — the recurrence itself never needs it, so with k > 1 the non-check iterations run without any
    driver round-trip beyond the half-step norms, at the cost of up to k-1
    iterations past convergence. Metrics carry delta_l1 only on check
    iterations.
    """
    import time

    from engine.operators.pagerank import BROADCAST_NODE_LIMIT

    spark = edges.sparkSession
    P = num_partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))

    e = edges.select("src", "dst").distinct().repartition(P, "dst").persist()
    e.count()

    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(P, "id")
        .persist()
    )
    n = nodes.count()
    if broadcast_scores is None:
        broadcast_scores = n <= BROADCAST_NODE_LIMIT

    h = nodes.select("id", (F.lit(1.0) / F.lit(float(n)) ** 0.5).alias("s")).localCheckpoint(
        eager=True
    )
    a = nodes.select("id", F.lit(0.0).alias("s")).localCheckpoint(eager=True)

    def _half_step(vec: DataFrame, key_in: str, key_out: str) -> DataFrame:
        """gather Σ vec over edges grouped by key_out, L2-normalized over the
        node universe (absent nodes contribute 0)."""
        scores_in = vec.select(F.col("id").alias(key_in), "s")
        if broadcast_scores:
            raw = (
                e.join(F.broadcast(scores_in), key_in)
                .groupBy(key_out)
                .agg(F.sum("s").alias("raw"))
            )
        elif salt_buckets and salt_buckets > 1:
            partial = (
                e.join(scores_in, key_in)
                .groupBy(key_out, F.pmod(F.hash(key_in), F.lit(salt_buckets)).alias("_salt"))
                .agg(F.sum("s").alias("psum"))
            )
            raw = partial.groupBy(key_out).agg(F.sum("psum").alias("raw"))
        else:
            raw = (
                e.join(scores_in, key_in)
                .groupBy(key_out)
                .agg(F.sum("s").alias("raw"))
            )
        out = nodes.join(raw.withColumnRenamed(key_out, "id"), "id", "left").select(
            "id", F.coalesce("raw", F.lit(0.0)).alias("raw")
        )
        norm = out.agg(F.sqrt(F.sum(F.col("raw") * F.col("raw"))).alias("nz"))
        return out.crossJoin(F.broadcast(norm)).select(
            "id",
            F.when(F.col("nz") > 0, F.col("raw") / F.col("nz")).otherwise(0.0).alias("s"),
        )

    converged = False
    delta = float("inf")
    metrics: list[dict] = []
    it = -1
    for it in range(max_iter):
        t0 = time.time()
        a_new = _half_step(h, "src", "dst").localCheckpoint(eager=True)
        h_new = _half_step(a_new, "dst", "src").localCheckpoint(eager=True)
        m = {"iter": it}
        if (it + 1) % check_every == 0 or it == max_iter - 1:
            stats = (
                h_new.withColumnRenamed("s", "hn")
                .join(h.withColumnRenamed("s", "ho"), "id")
                .join(a_new.withColumnRenamed("s", "an"), "id")
                .join(a.withColumnRenamed("s", "ao"), "id")
                .agg(
                    (
                        F.sum(F.abs(F.col("hn") - F.col("ho")))
                        + F.sum(F.abs(F.col("an") - F.col("ao")))
                    ).alias("delta")
                )
                .collect()[0]
            )
            delta = float(stats["delta"])
            m["delta_l1"] = delta
        m["wall_sec"] = round(time.time() - t0, 4)
        metrics.append(m)
        h, a = h_new, a_new
        if "delta_l1" in m and delta < tol:
            converged = True
            break

    scores = h.withColumnRenamed("s", "hub").join(
        a.select("id", F.col("s").alias("authority")), "id"
    )
    e.unpersist()
    nodes.unpersist()
    return HitsResult(
        scores=scores,
        iterations=it + 1,
        converged=converged,
        final_delta=delta,
        metrics=metrics,
    )
