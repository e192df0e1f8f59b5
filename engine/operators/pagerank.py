"""Damped power-iteration PageRank as an iterative DataFrame dataflow.

Semantics are pinned to the reference recurrence (pagerank_gpu.cu:137-191):

  per iteration (r = current ranks, n = |nodes|, alpha = damping):
    1. dangling_mass = Σ r[i] over outdeg(i)==0            (cu:149-154)
    2. r_new[i] = alpha*(Σ_{j→i} r[j]/outdeg(j) + dangling_mass/n)
                  + (1-alpha)/n                            (cu:156-166)
    3. delta = Σ |r_new - r|; stop when delta < tol        (cu:169-180)
  after loop: r /= Σ r                                     (cu:183-189)

Physical design (Spark-first, NOT a CSR port):
- the caller's lineage is cut ONCE, at build: the edge and node inputs are
  localCheckpointed, so every round's analyzed plan is a handful of nodes
  however deep the pipeline that produced the edges.
- `adj(src, dst, w=1/outdeg, dang)` replaces the CSR transition matrix (the
  reference's precompute-1/outdeg-outside-the-loop, cu:122-129), built from
  the cut inputs, hash-partitioned on the gather key and persisted. Besides
  the edges it holds ONE zero-weight self row per node (src = dst = id) that
  carries the node's dangling flag `dang` (and its teleport weight `pw`
  under personalization); edge rows have dang = null.
- a round is ONE groupBy(dst) over adj ⋈ r on src: the edge rows sum into
  the SpMV gather (cu:197-217), the self row contributes rank·0 to it and
  brings the node's old rank and dangling flag along. The whole next vector
  — new rank, old rank, flag — comes out of that single aggregate, so no
  node-table join, no dangling-mass cross join and no stats self-join run.
  With `salt_buckets=S` the shuffle gather splits the aggregate in two
  (partial on (dst, pmod(hash(src),S)), final on dst) so hub vertices with
  huge in-degree never serialize into one reducer.
- dangling is a rank-1 scalar correction (cu:102,125: dangling rows never
  enter the matrix): the dangling mass enters the update as a literal.
- the round's three scalar sweeps (cu:149-174) — L1 delta, the NEXT round's
  dangling mass and Σrank — are observed metrics on the round's
  localCheckpoint: they ride the materialization, no extra job, and are
  summed exactly (decimal), so they do not depend on task finishing order.
  On the broadcast path a round is therefore exactly two Spark jobs: the
  rank broadcast and one exchange-free materialization.
- with a checkpoint_dir, every `checkpoint_every` rounds the vector is also
  written as an iteration-stamped Parquet snapshot + a JSON manifest with
  the per-iteration metrics (resumable: a rerun picks up from the last
  snapshot and recomputes the dangling mass from it).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, functions as F

from engine.operators._checkpoint import load_manifest as _load_manifest
from engine.operators._checkpoint import snapshot_state as _snapshot_state


@dataclass
class PageRankResult:
    ranks: DataFrame  # (id BIGINT, rank DOUBLE), normalized to Σ=1
    iterations: int
    converged: bool
    final_delta: float
    num_nodes: int
    num_edges: int
    metrics: list[dict] = field(default_factory=list)  # per-iteration


BROADCAST_NODE_LIMIT = 4_000_000  # ranks table ≈ 16 B/row → ≤ ~64 MB broadcast


def _estimate_rows(df: DataFrame, bytes_per_row: int = 16) -> int:
    """Row-count estimate from Catalyst's optimized-plan statistics (derived
    from input file sizes / injected stats) — runs NO job. Returns the
    explicit rowCount when the plan carries one; otherwise sizeInBytes /
    bytes_per_row. Falls back to 0 (→ caller's minimum) when statistics are
    the unknown-size sentinel (defaultSizeInBytes ~ 8 EB)."""
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        rc = stats.rowCount()
        if rc.isDefined():
            return int(str(rc.get()))
        size = int(str(stats.sizeInBytes()))
        if 0 < size < (1 << 50):
            return size // bytes_per_row
    except Exception:
        pass
    return 0


def _checkpoint(df: DataFrame, *metrics, keep=None) -> tuple[DataFrame, dict]:
    """localCheckpoint `df` (one job), or only its `keep` columns, and return
    it with `metrics` observed on that same pass."""
    obs = Observation()
    df = df.observe(obs, *metrics)
    ck = (df.select(*keep) if keep else df).localCheckpoint(eager=True)
    return ck, obs.get


def _drop(ck: DataFrame) -> None:
    """Free the blocks of a localCheckpointed frame now. unpersist() does
    not reach them (they are not in the CacheManager); left alone they
    linger until a driver GC lets the ContextCleaner collect the RDD."""
    rdd_id = ck._jdf.queryExecution().analyzed().rdd().id()
    ck.sparkSession.sparkContext._jsc.sc().unpersistRDD(rdd_id, False)


# observed sums are merged on the driver in task-completion order, and a
# double sum depends on that order. Each term rounded to 1e-24 and added as
# a decimal sums exactly, in any order (|values| < 1e14: ranks, init_ranks
# seeds, their deltas and totals), so a round's scalars — and the ranks that
# follow from them — are bit-identical from run to run, and a resumed run
# replays the original.
_EXACT = "decimal(38,24)"


def _sum(x) -> F.Column:
    return F.sum(x.cast(_EXACT)).cast("double")


@dataclass
class Adjacency:
    """The cached per-round gather input (see the module docstring)."""

    rows: DataFrame  # (src, dst, w, dang[, pw]), persisted
    num_nodes: int
    num_edges: int
    broadcast: bool  # dst-partitioned + broadcast ranks, else src-partitioned
    salt_buckets: int | None
    personalized: bool
    inputs: list[DataFrame]  # the localCheckpointed edge/node inputs

    def release(self) -> None:
        self.rows.unpersist()
        for ck in self.inputs:
            _drop(ck)


def build_adjacency(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    num_partitions: int | None = None,
    broadcast_ranks: bool | None = None,
    salt_buckets: int | None = None,
    weight_col: str | None = None,
    personalization: DataFrame | None = None,
) -> Adjacency:
    """Cut the inputs' lineage and build the self-row adjacency once, outside
    the loop (like build_P, cu:85-133). Arguments as in `pagerank`."""
    spark = edges.sparkSession
    conf_p = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if num_partitions:
        P = num_partitions
    else:
        # size the per-iteration shuffle to the graph: ~250k edge rows per
        # partition, clamped to the session default. Tiny graphs then run a
        # handful of tasks per stage instead of paying conf_p scheduling
        # overhead x iterations; at cluster scale callers pass num_partitions
        # (or the session default, ~2-3x total cores, wins). The estimate
        # comes from Catalyst's optimizer statistics (file sizes for scans —
        # NO job, no extra full pass over a 100 TB table), not a count().
        # When statistics are unusable (unknown-size sentinel, join-derived
        # plans) the estimate is 0: fall back to the session default rather
        # than collapsing a possibly-huge derived edge table to 2 partitions.
        est = _estimate_rows(edges, bytes_per_row=16)
        P = conf_p if est <= 0 else max(2, min(conf_p, (est // 250_000) + 1))

    # cut the caller's lineage: one pass over the edges, which also observes
    # the edge count, the max id (default node universe) and, weighted, the
    # smallest weight (validation) — no separate job for any of them
    cols = [F.col("src"), F.col("dst")]
    stats = [F.greatest(F.max("src"), F.max("dst")).alias("mx")]
    if weight_col is None:
        stats.append(F.count(F.lit(1)).alias("m"))
    else:
        cols.append(F.col(weight_col).cast("double").alias("wt"))
        wt = F.col("wt")
        stats += [F.min(wt).alias("wmin"), F.count(F.when(wt > 0, 1)).alias("m")]
    e, st = _checkpoint(edges.select(*cols), *stats)
    inputs = [e]
    try:
        if weight_col is not None and st["wmin"] is not None and st["wmin"] < 0:
            raise ValueError(f"negative values in weight column {weight_col!r}")
        nodes_given = nodes is not None
        if not nodes_given:
            # the reference's dense-id convention (pagerank_gpu.cu:64-65)
            if st["mx"] is None:
                raise ValueError("empty edge table")
            n = int(st["mx"]) + 1
            nodes = spark.range(0, n).select(F.col("id"))
        else:
            nodes, nst = _checkpoint(nodes.select("id"), F.count(F.lit(1)).alias("n"))
            inputs.append(nodes)
            n = nst["n"]
        if broadcast_ranks is None:
            broadcast_ranks = n <= BROADCAST_NODE_LIMIT

        if weight_col is None:
            contrib = e
            out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
            edge_w = F.lit(1.0) / F.col("deg")
        else:
            contrib = e.filter(F.col("wt") > 0)
            out_deg = contrib.groupBy("src").agg(F.sum("wt").alias("deg"))
            edge_w = F.col("wt") / F.col("deg")
        if nodes_given:
            # edges into ids outside the node universe count in the source's
            # out-degree (their mass leaks) but no node receives them
            contrib = contrib.join(nodes.select(F.col("id").alias("dst")), "dst", "left_semi")
        edge_cols = [
            "src", "dst", edge_w.alias("w"), F.lit(None).cast("boolean").alias("dang"),
        ]
        self_rows = nodes.join(
            out_deg.select(F.col("src").alias("id"), "deg"), "id", "left"
        )
        self_cols = [
            F.col("id").alias("src"),
            F.col("id").alias("dst"),
            F.lit(0.0).alias("w"),
            F.col("deg").isNull().alias("dang"),
        ]
        if personalization is not None:
            self_rows = self_rows.join(_teleport(personalization, nodes), "id", "left")
            edge_cols.append(F.lit(None).cast("double").alias("pw"))
            self_cols.append(F.coalesce("pw", F.lit(0.0)).alias("pw"))
        rows = (
            contrib.join(out_deg, "src")
            .select(*edge_cols)
            .unionByName(self_rows.select(*self_cols))
            # broadcast gather: partition by dst so join→partial-agg→final-agg
            # is one exchange-free stage; shuffle gather: partition by src so
            # only the small rank vector shuffles into the join
            .repartition(P, "dst" if broadcast_ranks else "src")
            # one-time clustering by the per-iteration probe/join key, paid
            # at build and amortized over every iteration: broadcast path —
            # rows with equal src are adjacent, so the hashed-relation probe
            # hits the same entry ~avg-outdeg times in a row (cache-resident)
            # instead of a random DRAM-latency miss per edge; shuffle path —
            # the cached relation carries outputOrdering(src), so a sort-merge
            # gather join reuses it instead of re-sorting every iteration.
            # NOT localCheckpointed: under AQE that drops the hash
            # partitioning and puts an exchange back into every round
            .sortWithinPartitions("src")
            .persist()
        )
        rows.count()  # materialize
    except BaseException:
        for ck in inputs:
            _drop(ck)
        raise
    return Adjacency(
        rows=rows,
        num_nodes=n,
        num_edges=int(st["m"]),
        broadcast=broadcast_ranks,
        salt_buckets=salt_buckets,
        personalized=personalization is not None,
        inputs=inputs,
    )


def _teleport(personalization: DataFrame, nodes: DataFrame) -> DataFrame:
    """(id, pw): the teleport weights normalized to Σ=1, validated against
    the node universe."""
    id_col, w_col = personalization.columns[:2]
    ptotal = personalization.agg(F.sum(w_col).alias("t")).collect()[0]["t"]
    if not ptotal or ptotal <= 0:
        raise ValueError("personalization weights must sum to > 0")
    pw = personalization.select(
        F.col(id_col).alias("id"), (F.col(w_col) / F.lit(float(ptotal))).alias("pw")
    )
    # ids absent from the node universe would silently shrink the effective
    # teleport vector below 1 (masked only by the final renormalization) —
    # surface the typo instead
    missing = pw.join(nodes, "id", "left_anti").count()
    if missing:
        raise ValueError(f"{missing} personalization id(s) are not in the node universe")
    return pw


def _gather(adj: Adjacency, r: DataFrame) -> DataFrame:
    """ONE groupBy(dst) over adj ⋈ r: (dst, g = Σ rank·w, old = the node's
    own rank via its self row, dang[, pw]) for every node of the universe."""
    ranks = r.select(F.col("id").alias("src"), "rank")
    joined = adj.rows.join(F.broadcast(ranks) if adj.broadcast else ranks, "src")
    carried = ["dang"] + (["pw"] if adj.personalized else [])
    g = F.sum(F.col("rank") * F.col("w"))
    old = F.max(F.when(F.col("dang").isNotNull(), F.col("rank")))
    if not adj.broadcast and adj.salt_buckets and adj.salt_buckets > 1:
        # explicit skew split: partial agg on (dst, salt(src)) bounds any
        # single reduce task to ~in_deg/S rows for hub destinations
        salt = F.pmod(F.hash("src"), F.lit(adj.salt_buckets)).alias("_salt")
        joined = joined.groupBy("dst", salt).agg(
            g.alias("g"), old.alias("old"), *[F.max(c).alias(c) for c in carried]
        )
        g, old = F.sum("g"), F.max("old")
    return joined.groupBy("dst").agg(
        g.alias("g"), old.alias("old"), *[F.max(c).alias(c) for c in carried]
    )


def pagerank_round(adj: Adjacency, r: DataFrame, alpha: float, dm: float) -> DataFrame:
    """One power-iteration step from the (id, rank) vector `r` whose dangling
    mass is `dm`: (id, rank, old, dang) for every node."""
    n = adj.num_nodes
    if adj.personalized:
        # PPR: dangling mass and teleport both follow the p vector
        rank = F.lit(alpha) * (F.col("g") + F.lit(dm) * F.col("pw")) + F.lit(
            1.0 - alpha
        ) * F.col("pw")
    else:
        rank = F.lit(alpha) * (F.col("g") + F.lit(dm) / F.lit(float(n))) + F.lit(
            (1.0 - alpha) / n
        )
    return _gather(adj, r).select(
        F.col("dst").alias("id"), rank.alias("rank"), "old", "dang"
    )


def _dangling_mass():
    return _sum(F.when(F.col("dang"), F.col("rank")).otherwise(0.0)).alias("dm")


def _start_vector(adj: Adjacency, seed: DataFrame | None, fill) -> tuple[DataFrame, float, float]:
    """The initial (id, rank) vector, localCheckpointed, with its dangling
    mass and Σrank: `seed`'s rank where it has the id, else `fill`."""
    v = adj.rows.filter(F.col("dang").isNotNull()).select(
        F.col("dst").alias("id"), "dang", *(["pw"] if adj.personalized else [])
    )
    if seed is not None:
        v = v.join(seed.select("id", F.col("rank").alias("_s")), "id", "left")
        fill = F.coalesce("_s", fill)
    r, s = _checkpoint(
        v.select("id", fill.alias("rank"), "dang"),
        _dangling_mass(),
        _sum(F.col("rank")).alias("total"),
        keep=("id", "rank"),
    )
    return r, s["dm"], s["total"]


def pagerank(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    alpha: float = 0.85,
    tol: float = 1e-8,
    max_iter: int = 100,
    salt_buckets: int | None = None,
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    num_partitions: int | None = None,
    resume: bool = True,
    broadcast_ranks: bool | None = None,
    personalization: DataFrame | None = None,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
) -> PageRankResult:
    """Run PageRank over an edge table (src BIGINT, dst BIGINT).

    nodes: optional single-column (id) node universe. Default: 0..max(src,dst)
    — the reference's dense-id convention (pagerank_gpu.cu:64-65), where ids
    absent from the edge file still exist and are dangling.
    Duplicate edges count with multiplicity (the reference never dedupes in
    load_graph; outdeg and the matrix both see every occurrence).
    Defaults alpha/tol/max_iter match pagerank_gpu.cu:367-370.

    broadcast_ranks: gather strategy. True → adj is hash-partitioned on dst
    ONCE and the (small) rank vector is broadcast each iteration, so the
    join, the partial and final aggregates, the update and the observed
    convergence stats all run in a single exchange-free stage over the
    cached adjacency: two jobs per round (broadcast, materialization) and
    no shuffle at all. False → shuffle gather (adj ⋈ ranks on src, shuffle
    by dst), the path for node counts too big to broadcast; combine with
    salt_buckets for hub skew. None (default) → auto: broadcast iff
    n ≤ BROADCAST_NODE_LIMIT. All strategies run the same round and compute
    the identical recurrence (float sum order may differ at the last ulp).

    The convergence check (consecutive-iteration L1 delta, reference
    criterion cu:169-180) runs every iteration at no extra cost: it is an
    observed metric of the round's materialization.

    weight_col: optional edge-weight column on `edges` (weighted PageRank —
    anchor-text/link-frequency weighting): each edge contributes
    rank(src)·w/Σw(src) instead of rank(src)/outdeg(src). Weights must be
    ≥ 0; zero-weight edges are dropped, and a source whose weights are ALL
    zero is dangling (exactly like a source with no out-edges). Validated on
    the build-time input pass (never per-iteration); the default None keeps
    the reference's unweighted recurrence.

    init_ranks: optional (id, rank) seed vector for incremental re-ranking —
    warm-start this snapshot's run from the previous snapshot's converged
    vector (compose with snapshots.snapshot_diff for the monthly-crawl
    delta workflow). New ids get uniform mass, vanished ids drop, and the
    seed is renormalized to Σ=1, so the fixpoint and convergence criterion
    are identical to a cold run — only the iteration count shrinks (the
    power method starts near the dominant eigenvector). Precedence: a
    checkpoint_dir resume snapshot wins over init_ranks, which wins over
    the personalization/uniform default.

    personalization: optional (id, weight) teleport distribution (normalized
    to Σ=1 internally; missing ids get weight 0). Standard personalized
    PageRank: r_new[i] = α·(gather_i + dm·p_i) + (1−α)·p_i, init r = p —
    dangling mass redistributes along p, not uniformly. None (default)
    keeps the reference's uniform recurrence.

    Everything the run caches or checkpoints is released before it
    returns, except the blocks behind the returned ranks.
    """
    spark = edges.sparkSession
    adj = build_adjacency(
        edges,
        nodes,
        num_partitions=num_partitions,
        broadcast_ranks=broadcast_ranks,
        salt_buckets=salt_buckets,
        weight_col=weight_col,
        personalization=personalization,
    )
    try:
        n = adj.num_nodes

        # ---- init / resume ----
        start_iter = 0
        metrics: list[dict] = []
        snap = None
        if checkpoint_dir:
            os.makedirs(checkpoint_dir, exist_ok=True)
            man = _load_manifest(checkpoint_dir) if resume else None
            if man and man.get("completed_iter", -1) >= 0 and man.get("n") == n:
                start_iter = man["completed_iter"] + 1
                metrics = man["iterations"]
                snap = spark.read.parquet(
                    os.path.join(checkpoint_dir, f"iter={man['completed_iter']}")
                )
        if snap is not None:
            # the dangling mass is a scalar carried from round to round:
            # recompute it from the snapshot (exactly: see _EXACT)
            r, dm, total = _start_vector(adj, snap, F.lit(0.0))
        elif init_ranks is not None:
            # warm start (incremental re-rank over a snapshot delta): seed
            # from a prior run's vector. Ids absent from init_ranks (pages new
            # in this snapshot) get the uniform mass and vanished ids drop
            # out; the seeded vector is then renormalized to Σ=1 (the
            # recurrence preserves Σ=1 from there, so the convergence
            # criterion and fixpoint are identical to a cold run — only the
            # iteration count changes).
            r0, _, seed_total = _start_vector(adj, init_ranks, F.lit(1.0 / n))
            r, dm, total = _start_vector(
                adj, r0.select("id", (F.col("rank") / F.lit(seed_total)).alias("rank")), F.lit(0.0)
            )
            _drop(r0)
        else:
            init = F.col("pw") if adj.personalized else F.lit(1.0 / n)
            r, dm, total = _start_vector(adj, None, init)

        converged = False
        delta = float("inf")
        it = start_iter - 1
        for it in range(start_iter, max_iter):
            t0 = time.time()
            # the round, materialized with its stats observed on the same
            # pass: L1 delta (consecutive iterations, cu:169-180), the next
            # round's dangling mass and Σrank. localCheckpoint also truncates
            # the lineage every round — the double-buffer swap of
            # pagerank_gpu.cu:175/307 — so plans never grow.
            r_new, s = _checkpoint(
                pagerank_round(adj, r, alpha, dm),
                _sum(F.abs(F.col("rank") - F.col("old"))).alias("delta"),
                _dangling_mass(),
                _sum(F.col("rank")).alias("total"),
                keep=("id", "rank"),
            )
            _drop(r)
            r = r_new
            delta, dm, total = float(s["delta"]), float(s["dm"]), float(s["total"])
            metrics.append({
                "iter": it,
                "delta_l1": delta,
                "dangling_mass": dm,
                "sum_rank": total,
                "wall_sec": round(time.time() - t0, 4),
            })

            last_round = delta < tol or it == max_iter - 1
            if checkpoint_dir and (it % checkpoint_every == checkpoint_every - 1 or last_round):
                _snapshot_state(
                    r,
                    checkpoint_dir,
                    it,
                    {
                        "kernel": "pagerank",
                        "n": n,
                        "m": adj.num_edges,
                        "alpha": alpha,
                        "tol": tol,
                        "dangling_mass": dm,
                        "iterations": metrics,
                    },
                )
            if delta < tol:
                converged = True
                break
    finally:
        adj.release()

    return PageRankResult(
        # final normalization (cu:183-189) by the last observed Σrank
        ranks=r.select("id", (F.col("rank") / F.lit(total)).alias("rank")),
        iterations=it + 1 if it >= 0 else 0,
        converged=converged,
        final_delta=delta,
        num_nodes=n,
        num_edges=adj.num_edges,
        metrics=metrics,
    )


def top_k(ranks: DataFrame, k: int = 10) -> DataFrame:
    """Top-k by rank desc (pagerank_gpu.cu:429-442). Spark plans this as
    TakeOrderedAndProject — per-partition partial top-k, no full sort."""
    return ranks.orderBy(F.desc("rank"), F.asc("id")).limit(k)
