"""PageRank correctness: NumPy-oracle allclose(1e-6)/(1e-9), reference golden
files, dangling handling, salted-gather equivalence, checkpoint/resume."""

from __future__ import annotations

import os
import random
import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from engine.operators.pagerank import pagerank, top_k
from engine.sources.edges import (
    format_topk_report,
    num_nodes_from_edges,
    parse_topk_report,
    read_edge_text,
)
from oracle import pagerank_numpy

REF_1K = "/root/reference/backend/data/random_1k_10k.txt"
GOLDEN_1K = "/root/reference/backend/output_1k.txt"


def _edges_df(spark, edges):
    return spark.createDataFrame(edges, schema="src long, dst long")


def _ranks_array(result, n):
    r = np.zeros(n)
    for row in result.ranks.collect():
        r[row.id] = row.rank
    return r


def _random_1k_10k(n=1000, m=10000, seed=1000):
    """Deterministic stand-in for the reference's random_1k_10k.txt with its
    documented properties (FIXTURES.md §2): N=1000, M=10000, uniform random
    pairs in random order, no self-loops, deduplicated."""
    rng = random.Random(seed)
    seen, out = set(), []
    while len(out) < m:
        e = (rng.randrange(n), rng.randrange(n))
        if e[0] != e[1] and e not in seen:
            seen.add(e)
            out.append(e)
    return out


GRAPH_1K = _random_1k_10k()


def test_small_graph_matches_oracle(spark):
    edges = [(0, 1), (1, 0), (1, 2), (2, 0), (3, 2), (0, 2), (4, 0)]
    # node 5 exists only via max-id? no — add an edge to 5 so it's dangling
    edges.append((2, 5))
    df = _edges_df(spark, edges)
    res = pagerank(df, tol=1e-10, max_iter=200)
    expected, iters, conv = pagerank_numpy(edges, tol=1e-10, max_iter=200)
    got = _ranks_array(res, 6)
    assert res.converged and conv
    assert np.allclose(got, expected, atol=1e-9)
    assert abs(got.sum() - 1.0) < 1e-9


def test_duplicate_edges_count_with_multiplicity(spark):
    edges = [(0, 1), (0, 1), (0, 2), (1, 2), (2, 0)]
    df = _edges_df(spark, edges)
    res = pagerank(df, tol=1e-12, max_iter=300)
    expected, _, _ = pagerank_numpy(edges, tol=1e-12, max_iter=300)
    assert np.allclose(_ranks_array(res, 3), expected, atol=1e-10)


def test_all_dangling_except_one(spark):
    edges = [(0, 1), (0, 2), (0, 3)]
    df = _edges_df(spark, edges)
    res = pagerank(df, tol=1e-12, max_iter=300)
    expected, _, _ = pagerank_numpy(edges, tol=1e-12, max_iter=300)
    assert np.allclose(_ranks_array(res, 4), expected, atol=1e-10)


@pytest.mark.skipif(not os.path.exists(REF_1K), reason="reference fixtures absent")
def test_golden_1k_parity(spark):
    """Engine reproduces the reference's committed output_1k.txt top-10
    (params pagerank_gpu defaults: alpha=0.85 tol=1e-8 max_iter=100)."""
    edges_df = read_edge_text(spark, REF_1K)
    n = num_nodes_from_edges(edges_df)
    assert n == 1000
    res = pagerank(edges_df, alpha=0.85, tol=1e-8, max_iter=100)
    got = {row.id: row.rank for row in top_k(res.ranks, 10).collect()}

    golden = [
        (int(m.group(1)), float(m.group(2)))
        for m in re.finditer(r"node\s+(\d+)\s*:\s*([0-9.eE+-]+)", open(GOLDEN_1K).read())
    ]
    assert len(golden) == 10
    for gid, gscore in golden:
        assert gid in got
        assert abs(got[gid] - gscore) < 5e-10

    # byte-format round trip (S5/S6)
    rows = sorted(got.items(), key=lambda kv: (-kv[1], kv[0]))
    report = format_topk_report(1000, res.num_edges, 0, rows)
    assert re.search(r"  node \d+ : 0\.\d{10}", report)


def test_salted_gather_equivalent(spark):
    edges = GRAPH_1K[:4000]
    df = _edges_df(spark, edges)
    plain = pagerank(df, tol=1e-10, max_iter=50)
    salted = pagerank(df, tol=1e-10, max_iter=50, salt_buckets=8)
    n = plain.num_nodes
    assert np.allclose(_ranks_array(plain, n), _ranks_array(salted, n), atol=1e-12)
    assert plain.iterations == salted.iterations


def test_broadcast_and_shuffle_gather_agree(spark):
    """The exchange-free broadcast gather and the shuffle gather are two
    physical strategies for the same recurrence — scores must agree to
    float-sum-reorder tolerance."""
    edges = GRAPH_1K[:4000]
    df = _edges_df(spark, edges)
    bc = pagerank(df, tol=1e-10, max_iter=40, broadcast_ranks=True)
    sh = pagerank(df, tol=1e-10, max_iter=40, broadcast_ranks=False)
    n = bc.num_nodes
    assert np.allclose(_ranks_array(bc, n), _ranks_array(sh, n), atol=1e-12)
    assert bc.iterations == sh.iterations


def test_checkpoint_resume_identical(spark, tmp_path):
    edges = GRAPH_1K[:3000]
    df = _edges_df(spark, edges)
    full = pagerank(df, tol=1e-10, max_iter=40, checkpoint_every=4)

    ck = str(tmp_path / "ck")
    partial = pagerank(df, tol=1e-10, max_iter=7, checkpoint_dir=ck, checkpoint_every=3)
    assert not partial.converged
    resumed = pagerank(df, tol=1e-10, max_iter=40, checkpoint_dir=ck, checkpoint_every=3)
    assert resumed.metrics[0]["iter"] == 0  # manifest carries full history
    assert resumed.iterations == full.iterations
    n = full.num_nodes
    assert np.allclose(_ranks_array(resumed, n), _ranks_array(full, n), atol=1e-12)
    # the dangling mass recomputed from the snapshot is the one the
    # uninterrupted run carried: every round from the resume point on has
    # the same delta
    k = partial.iterations
    assert [m["delta_l1"] for m in resumed.metrics[k:]] == [
        m["delta_l1"] for m in full.metrics[k:]
    ]


def _jobs_in_group(spark, fn):
    """Run fn() under a fresh Spark job group; return (result, #jobs)."""
    sc = spark.sparkContext
    group = f"pagerank-round-shape-{random.getrandbits(32)}"
    sc.setJobGroup(group, "pagerank round shape")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


SETUP_JOBS = 12  # build + start vector: fixed, whatever the round count


def test_round_runs_two_jobs_per_iteration(spark):
    """A round is the rank broadcast plus one materialization that carries
    the convergence stats: at most 2 jobs per iteration on top of a fixed
    setup count."""
    df = _edges_df(spark, GRAPH_1K[:2000])
    short, j_short = _jobs_in_group(spark, lambda: pagerank(df, tol=0.0, max_iter=2))
    long_, j_long = _jobs_in_group(spark, lambda: pagerank(df, tol=0.0, max_iter=8))
    assert (short.iterations, long_.iterations) == (2, 8)
    assert j_long - j_short <= 2 * (8 - 2)
    assert j_short <= 2 * 2 + SETUP_JOBS


def test_pagerank_releases_all_but_its_ranks(spark):
    """Adjacency, cut edge/node inputs, start vectors and every round's
    checkpoint are freed before pagerank returns; only the blocks behind the
    returned ranks stay."""
    sc = spark.sparkContext
    edges = GRAPH_1K[:1000]
    n = max(max(e) for e in edges) + 1
    df = _edges_df(spark, edges)
    seed = spark.createDataFrame([(i, 1.0) for i in range(0, n, 3)], "id long, rank double")
    before = set(sc._jsc.getPersistentRDDs().keys())
    res = pagerank(
        df, nodes=spark.range(n).select("id"), tol=0.0, max_iter=3, init_ranks=seed
    )
    left = set(sc._jsc.getPersistentRDDs().keys()) - before
    ranks_rdd = res.ranks._jdf.queryExecution().analyzed().child().rdd().id()
    assert left == {ranks_rdd}
    assert res.ranks.count() == n


def test_iteration_metrics_recorded(spark):
    edges = GRAPH_1K[:2000]
    res = pagerank(_edges_df(spark, edges), tol=1e-8, max_iter=60)
    assert res.converged
    assert len(res.metrics) == res.iterations
    deltas = [m["delta_l1"] for m in res.metrics]
    assert deltas[-1] < 1e-8
    # Σ rank stays ≈1 every iteration before final normalization
    for m in res.metrics:
        assert abs(m["sum_rank"] - 1.0) < 1e-6


@pytest.mark.skipif(not os.path.exists(GOLDEN_1K), reason="reference fixtures absent")
def test_parse_topk_report_scan(spark):
    df = parse_topk_report(spark, GOLDEN_1K)
    rows = {r.id: r.score for r in df.collect()}
    assert rows[542] == pytest.approx(0.0026460511, abs=1e-12)
    assert len(rows) == 10


def test_personalized_pagerank_vs_oracle(spark):
    from oracle import personalized_pagerank_numpy

    edges = GRAPH_1K[:3000]
    df = _edges_df(spark, edges)
    pers = {3: 5.0, 10: 3.0, 42: 2.0}
    pdf = spark.createDataFrame(list(pers.items()), "id long, weight double")
    res = pagerank(df, tol=1e-10, max_iter=120, personalization=pdf)
    expected, iters, conv = personalized_pagerank_numpy(edges, pers, tol=1e-10, max_iter=120)
    n = res.num_nodes
    assert res.converged and conv
    got = _ranks_array(res, n)
    assert np.allclose(got, expected, atol=1e-9)
    assert abs(got.sum() - 1.0) < 1e-9
    # teleport concentration: seeded nodes outrank the typical node
    assert got[3] > got.mean() * 3


def test_uniform_personalization_equals_default(spark):
    edges = [(0, 1), (1, 2), (2, 0), (0, 2), (3, 0)]
    df = _edges_df(spark, edges)
    uni = spark.createDataFrame([(i, 1.0) for i in range(4)], "id long, weight double")
    plain = pagerank(df, tol=1e-12, max_iter=200)
    pers = pagerank(df, tol=1e-12, max_iter=200, personalization=uni)
    assert np.allclose(
        _ranks_array(plain, 4), _ranks_array(pers, 4), atol=1e-12
    )


def test_personalization_unknown_id_raises(spark):
    edges = [(0, 1), (1, 2), (2, 0)]
    df = _edges_df(spark, edges)
    bad = spark.createDataFrame([(0, 1.0), (9999, 2.0)], "id long, weight double")
    with pytest.raises(ValueError, match="not in the node universe"):
        pagerank(df, max_iter=5, personalization=bad)


REF_5K_IN = "/root/reference/backend/jobs/input.txt"
GOLDEN_5K = "/root/reference/backend/jobs/output.txt"


@pytest.mark.skipif(not os.path.exists(REF_5K_IN), reason="reference fixtures absent")
def test_golden_5k_parity(spark):
    """Engine reproduces the reference's largest committed workload
    (backend/jobs: N=5000, M=50000) — the graph summary block AND the top-10
    PageRank scores of output.txt (params = pagerank_gpu defaults)."""
    edges_df = read_edge_text(spark, REF_5K_IN)
    n = num_nodes_from_edges(edges_df)
    golden_text = open(GOLDEN_5K).read()
    gn = int(re.search(r"N \(nodes\)\s*:\s*(\d+)", golden_text).group(1))
    gm = int(re.search(r"M \(edges\)\s*:\s*(\d+)", golden_text).group(1))
    gd = int(re.search(r"Dangling nodes:\s*(\d+)", golden_text).group(1))
    assert (n, edges_df.count()) == (gn, gm) == (5000, 50000)

    res = pagerank(edges_df, alpha=0.85, tol=1e-8, max_iter=100)
    from engine.operators.graph import dangling, out_degrees

    nodes = spark.range(n).selectExpr("id")
    assert dangling(nodes, out_degrees(edges_df)).count() == gd

    got = {row.id: row.rank for row in top_k(res.ranks, 10).collect()}
    golden = [
        (int(m.group(1)), float(m.group(2)))
        for m in re.finditer(r"node\s+(\d+)\s*:\s*([0-9.eE+-]+)", golden_text)
    ]
    assert len(golden) == 10
    assert [gid for gid, _ in golden] == sorted(got, key=lambda i: (-got[i], i))
    for gid, gscore in golden:
        assert abs(got[gid] - gscore) < 5e-10


# ---------------------------------------------------------------------------
# weighted PageRank (weight_col)
# ---------------------------------------------------------------------------

def _wedges_df(spark, edges_w):
    return spark.createDataFrame(edges_w, schema="src long, dst long, wt double")


def test_weighted_uniform_weights_equal_unweighted(spark):
    """weight_col with constant weights reduces to the unweighted kernel:
    w/Σw == 1/outdeg exactly when all weights are equal (IEEE division of
    equal quantities) — ranks agree to reorder tolerance."""
    edges = GRAPH_1K[:3000]
    plain = pagerank(_edges_df(spark, edges), tol=1e-10, max_iter=30)
    wdf = _wedges_df(spark, [(u, v, 2.0) for u, v in edges])
    weighted = pagerank(wdf, tol=1e-10, max_iter=30, weight_col="wt")
    n = plain.num_nodes
    assert weighted.num_nodes == n
    assert np.allclose(_ranks_array(plain, n), _ranks_array(weighted, n), atol=1e-12)
    assert plain.iterations == weighted.iterations


def test_weighted_pagerank_vs_numpy_oracle(spark):
    from oracle import pagerank_weighted_numpy

    import random

    rng = random.Random(13)
    edges_w = [
        (rng.randrange(60), rng.randrange(60), float(rng.randrange(1, 9)))
        for _ in range(240)
    ]
    res = pagerank(_wedges_df(spark, edges_w), tol=1e-10, max_iter=100, weight_col="wt")
    want, iters, conv = pagerank_weighted_numpy(edges_w, n=res.num_nodes, tol=1e-10)
    assert conv and res.converged
    got = _ranks_array(res, res.num_nodes)
    assert np.allclose(got, want, atol=1e-9)


def test_weighted_zero_weight_source_is_dangling(spark):
    from oracle import pagerank_weighted_numpy

    # node 2's only out-edge has weight 0 -> node 2 is dangling
    edges_w = [(0, 1, 1.0), (1, 2, 3.0), (2, 0, 0.0), (0, 2, 1.0)]
    res = pagerank(_wedges_df(spark, edges_w), tol=1e-12, max_iter=100, weight_col="wt")
    want, _, _ = pagerank_weighted_numpy(edges_w, n=3, tol=1e-12)
    assert np.allclose(_ranks_array(res, 3), want, atol=1e-12)


def test_weighted_negative_weight_raises(spark):
    with pytest.raises(ValueError, match="negative"):
        pagerank(_wedges_df(spark, [(0, 1, -1.0)]), max_iter=2, weight_col="wt")


def test_weighted_gather_paths_agree(spark):
    import random

    rng = random.Random(5)
    edges_w = [
        (rng.randrange(200), rng.randrange(200), float(rng.randrange(1, 6)))
        for _ in range(1500)
    ]
    df = _wedges_df(spark, edges_w)
    bc = pagerank(df, tol=1e-10, max_iter=30, weight_col="wt", broadcast_ranks=True)
    sh = pagerank(df, tol=1e-10, max_iter=30, weight_col="wt", broadcast_ranks=False)
    n = bc.num_nodes
    assert np.allclose(_ranks_array(bc, n), _ranks_array(sh, n), atol=1e-12)


def test_warm_start_same_fixpoint_fewer_iterations(spark):
    # incremental re-rank: converge on snapshot A, perturb a few edges
    # (snapshot B), warm-start B from A's vector — identical fixpoint to a
    # cold B run (same oracle), strictly fewer iterations
    rng = random.Random(47)
    base = [(rng.randrange(60), rng.randrange(60)) for _ in range(400)]
    snap_b = base[10:] + [(rng.randrange(60), rng.randrange(60)) for _ in range(10)]

    res_a = pagerank(_edges_df(spark, base), tol=1e-10, max_iter=200)
    cold_b = pagerank(_edges_df(spark, snap_b), tol=1e-10, max_iter=200)
    warm_b = pagerank(
        _edges_df(spark, snap_b), tol=1e-10, max_iter=200, init_ranks=res_a.ranks
    )
    assert cold_b.converged and warm_b.converged
    assert warm_b.iterations < cold_b.iterations
    expected, _it, conv = pagerank_numpy(snap_b, tol=1e-10, max_iter=200)
    assert conv
    n = max(max(s, d) for s, d in snap_b) + 1
    assert np.allclose(_ranks_array(warm_b, n), expected, atol=1e-8)


def test_warm_start_new_and_vanished_ids(spark):
    # B adds node ids beyond A's universe (uniform-seeded) and drops A's max
    # id (its seed mass must not survive); Σ=1 invariant holds at init
    old = [(0, 1), (1, 2), (2, 0), (2, 3)]  # ids 0..3
    new = [(0, 1), (1, 2), (2, 0), (1, 5)]  # id 5 new, id 3 vanished... but
    # dense-id convention: node universe is 0..max, so 3 and 4 exist in B as
    # dangling — the test point is seeding works across DIFFERENT universes
    res_a = pagerank(_edges_df(spark, old), tol=1e-10, max_iter=100)
    warm = pagerank(_edges_df(spark, new), tol=1e-10, max_iter=100, init_ranks=res_a.ranks)
    expected, _it, conv = pagerank_numpy(new, tol=1e-10, max_iter=100)
    assert warm.converged and conv
    assert np.allclose(_ranks_array(warm, 6), expected, atol=1e-8)
    got = _ranks_array(warm, 6)
    assert abs(got.sum() - 1.0) < 1e-9


def test_warm_start_at_fixpoint_converges_immediately(spark):
    # seeding with the converged vector of the SAME graph must converge on
    # the first convergence check
    edges = [(0, 1), (1, 0), (1, 2), (2, 0), (3, 2), (0, 2), (4, 0)]
    res = pagerank(_edges_df(spark, edges), tol=1e-9, max_iter=100)
    warm = pagerank(
        _edges_df(spark, edges), tol=1e-9, max_iter=100, init_ranks=res.ranks
    )
    assert warm.converged and warm.iterations <= 2


def test_trustrank_is_seeded_ppr(spark):
    """trustrank == pagerank(personalization=uniform over seeds) exactly
    (same kernel, same vector) — the VLDB 2004 definition."""
    from engine.operators.trustrank import trustrank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 2), (5, 0)]
    df = _edges_df(spark, edges)
    seeds = spark.createDataFrame([(0,), (3,)], "id long")
    tr = trustrank(df, seeds, tol=1e-12, max_iter=80)
    pers = spark.createDataFrame([(0, 1.0), (3, 1.0)], "id long, weight double")
    ppr = pagerank(df, personalization=pers, tol=1e-12, max_iter=80)
    a = {r.id: r.rank for r in tr.ranks.collect()}
    b = {r.id: r.rank for r in ppr.ranks.collect()}
    assert a == b


def test_spam_mass_vs_numpy_and_farm_detection(spark):
    """spam_mass = (PR - TrustRank)/PR vs the two NumPy oracles; a spam
    farm unreachable from every seed gets relative mass exactly 1 (its
    trust is identically 0), per Gyöngyi et al. 2006."""
    from engine.operators.trustrank import spam_mass
    from oracle import pagerank_numpy, personalized_pagerank_numpy

    rng = random.Random(5)
    n_good = 12
    # trusted region: ring + chords, seeds {0, 1}
    edges = [(i, (i + 1) % n_good) for i in range(n_good)]
    edges += [(rng.randrange(n_good), rng.randrange(n_good)) for _ in range(20)]
    # spam farm 20..27: dense internal ring + links INTO the good region
    # (boosting doesn't earn trust: no good page links back)
    farm = list(range(20, 28))
    edges += [(u, farm[(i + 1) % len(farm)]) for i, u in enumerate(farm)]
    edges += [(u, rng.randrange(n_good)) for u in farm]
    edges = sorted(set(edges))
    df = _edges_df(spark, edges)
    seeds = spark.createDataFrame([(0,), (1,)], "id long")

    got = {
        r.id: (r.rank, r.trust, r.spam_mass)
        for r in spam_mass(df, seeds, tol=1e-12, max_iter=150).collect()
    }
    n = 28
    pr_exp, _, _ = pagerank_numpy(edges, n=n, tol=1e-12, max_iter=150)
    tr_exp, _, _ = personalized_pagerank_numpy(
        edges, {0: 1.0, 1: 1.0}, n=n, tol=1e-12, max_iter=150
    )
    for i, (rank, trust, sm) in got.items():
        assert abs(rank - pr_exp[i]) < 1e-9
        assert abs(trust - tr_exp[i]) < 1e-9
        assert abs(sm - (pr_exp[i] - tr_exp[i]) / pr_exp[i]) < 1e-6
    # the farm is unreachable from the seeds: trust exactly 0, mass exactly 1
    for u in farm:
        assert got[u][1] == 0.0
        assert got[u][2] == 1.0
    # trusted seeds keep most of their rank as trust (mass well below farm's)
    assert got[0][2] < 0.5 and got[1][2] < 0.5


def test_inverse_pagerank_seed_candidates(spark):
    """Seed candidates = top-k PageRank of the transposed graph (Gyöngyi et
    al. 2004 §4.2), vs the NumPy oracle on reversed edges; the top-k is
    planned as TakeOrderedAndProject (no full sort)."""
    from engine.operators.trustrank import inverse_pagerank_seeds

    edges = GRAPH_1K[:3000]
    df = _edges_df(spark, edges)
    n = max(max(u, v) for u, v in edges) + 1
    nodes = spark.range(0, n).select("id")
    got = inverse_pagerank_seeds(df, k=15, nodes=nodes, tol=1e-12, max_iter=40)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    rows = got.collect()
    rev = [(v, u) for u, v in edges]
    exp, _, _ = pagerank_numpy(rev, n=n, tol=1e-12, max_iter=40)
    order = sorted(range(n), key=lambda i: (-exp[i], i))[:15]
    assert [r.id for r in rows] == order
    for r in rows:
        assert abs(r.rank - exp[r.id]) < 1e-9


def _mc_replay_py(edges, num_walks, alpha, max_len, salt):
    """Pure-Python replay of mc_pagerank's hash arithmetic (the walks.py
    portability contract): identical md5 draws, identical counts."""
    import hashlib

    def h32(cur, step, walk, tag):
        s = f"{cur}|{step}|{walk}|{salt}{tag}"
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    adj = {}
    for u, v in sorted(set(edges)):
        adj.setdefault(u, []).append(v)
    nodes = sorted({x for e in edges for x in e})
    n = len(nodes)
    threshold = int(alpha * (1 << 32))
    counts = {v: 0 for v in nodes}
    for start in nodes:
        for rep in range(num_walks):
            walk = start * num_walks + rep
            cur = start
            counts[cur] += 1
            for step in range(1, max_len + 1):
                if h32(cur, step, walk, "#t") >= threshold:
                    break
                m = h32(cur, step, walk, "#m")
                if cur in adj:
                    cur = adj[cur][m % len(adj[cur])]
                else:
                    cur = nodes[m % n]
                counts[cur] += 1
    tot = sum(counts.values())
    return {v: c / tot for v, c in counts.items()}


def test_mc_pagerank_exact_hash_replay(spark):
    """Engine visits == the pure-Python md5 replay, node for node — the
    determinism/portability contract (same as walks/sampling)."""
    from engine.operators.mc_pagerank import mc_pagerank

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 3), (4, 0), (5, 2), (1, 4)]
    got = {
        r.id: r.rank
        for r in mc_pagerank(
            _edges_df(spark, edges), num_walks=4, max_len=12, salt="s7"
        ).collect()
    }
    want = _mc_replay_py(edges, num_walks=4, alpha=0.85, max_len=12, salt="s7")
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-15


def test_mc_pagerank_approximates_exact(spark):
    """Statistical gate: the complete-path estimate converges on the exact
    power-iteration vector (1/sqrt(nR) noise + alpha^max_len truncation)."""
    from engine.operators.mc_pagerank import mc_pagerank

    rng = random.Random(23)
    n = 60
    edges = sorted(
        {(rng.randrange(n), rng.randrange(n)) for _ in range(240)}
        | {(i, (i + 1) % n) for i in range(n)}
    )
    exact, _, _ = pagerank_numpy(edges, n=n, tol=1e-12, max_iter=500)
    got = {
        r.id: r.rank
        for r in mc_pagerank(
            _edges_df(spark, edges), num_walks=300, max_len=50, salt="mc"
        ).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-12
    diffs = [abs(got[i] - exact[i]) for i in range(n)]
    assert max(diffs) < 5e-3
    assert sum(diffs) < 0.05
