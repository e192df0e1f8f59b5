"""spark-submit entrypoint: PageRank over an edge table.

    spark-submit --py-files engine.zip jobs/pagerank_job.py \
        --edges /path/to/edges --format parquet|text \
        --out /path/to/outdir [--alpha 0.85 --tol 1e-6 --max-iter 100 \
        --top-k 10 --salt-buckets 0 --checkpoint-dir DIR --partitions P \
        --init-ranks /prior/out/ranks]

Reads (src BIGINT, dst BIGINT), runs the damped power iteration with
dangling-mass redistribution (reference backend/cuda/pagerank_gpu.cu:137-191
semantics), and writes:
  {out}/ranks/            Parquet (id, rank), Σ=1
  {out}/topk.txt          reference-format report (pagerank_gpu.cu:413-444)
  {out}/metrics.json      per-iteration delta-L1 / dangling mass / Σrank / wall

The same job binary is what BENCH/run_bench.py times at two parallelism
levels for the N-vs-4N scaling-efficiency evidence.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--edges", required=True)
    ap.add_argument("--format", choices=("parquet", "text"), default="parquet")
    ap.add_argument("--out", required=True)
    ap.add_argument("--alpha", type=float, default=0.85)
    ap.add_argument("--tol", type=float, default=1e-6)
    ap.add_argument("--max-iter", type=int, default=100)
    ap.add_argument("--top-k", type=int, default=10)
    ap.add_argument("--salt-buckets", type=int, default=0)
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument("--checkpoint-every", type=int, default=5)
    ap.add_argument(
        "--init-ranks",
        default=None,
        help="Parquet (id, rank) from a prior run's {out}/ranks — warm-start "
        "this snapshot's iteration for incremental monthly re-ranking "
        "(same fixpoint, fewer iterations; see BENCH/warm_bench.py)",
    )
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from engine.session import build_session
    from engine.operators.pagerank import pagerank, top_k
    from engine.sources.edges import format_topk_report, read_edge_text

    spark = build_session(
        app_name="pagerank-job", master=args.master, shuffle_partitions=args.partitions
    )
    if args.format == "text":
        edges = read_edge_text(spark, args.edges)
    else:
        edges = spark.read.parquet(args.edges).select("src", "dst")

    res = pagerank(
        edges,
        alpha=args.alpha,
        tol=args.tol,
        max_iter=args.max_iter,
        salt_buckets=args.salt_buckets or None,
        checkpoint_dir=args.checkpoint_dir,
        checkpoint_every=args.checkpoint_every,
        num_partitions=args.partitions,
        init_ranks=(
            spark.read.parquet(args.init_ranks) if args.init_ranks else None
        ),
    )

    ranks = res.ranks.persist()
    ranks.write.mode("overwrite").parquet(os.path.join(args.out, "ranks"))
    rows = [(r.id, r.rank) for r in top_k(ranks, args.top_k).collect()]
    dangling_count = res.num_nodes - edges.select("src").distinct().count()
    report = format_topk_report(res.num_nodes, res.num_edges, dangling_count, rows)
    os.makedirs(args.out, exist_ok=True)
    with open(os.path.join(args.out, "topk.txt"), "w") as f:
        f.write(report)

    # rank-mass concentration diagnostic (Lorenz/Gini over the final
    # vector, 6dp-quantized): one extra distributed pass, surfaces "did
    # the damping concentrate mass on a few hubs" next to convergence
    from pyspark.sql import functions as F

    from engine.operators.rankeval import score_gini

    gini_row = score_gini(
        ranks.select("id", F.round("rank", 6).alias("rank"))
    ).collect()[0]

    summary = {
        "n": res.num_nodes,
        "m": res.num_edges,
        "rank_gini": gini_row["gini"],
        "iterations": res.iterations,
        "converged": res.converged,
        "final_delta": res.final_delta,
        "iterate_wall_sec": round(sum(m["wall_sec"] for m in res.metrics), 4),
        "edges_per_sec_per_iter": round(
            res.num_edges * res.iterations / max(sum(m["wall_sec"] for m in res.metrics), 1e-9), 1
        ),
        "metrics": res.metrics,
    }
    with open(os.path.join(args.out, "metrics.json"), "w") as f:
        json.dump(summary, f, indent=1)
    print(json.dumps({k: v for k, v in summary.items() if k != "metrics"}))
    ranks.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
