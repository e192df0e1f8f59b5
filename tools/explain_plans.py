"""Print formatted physical plans for the engine's hot paths.

Documents (and lets a reviewer re-check) the plan-shape claims:

1. PageRank broadcast round — ONE stage: BroadcastHashJoin + HashAggregate
   over the dst-partitioned cached adjacency, NO Exchange between the join
   and the final aggregate.
2. PageRank shuffle round + salt — two-level aggregate with the salted
   partial.
3. Parquet scan pushdown — filter + projection reach the scan
   (PushedFilters / ReadSchema).
4. TF-IDF postings — explode + two hash aggregates, no Python in the plan
   (tokenization is pure Catalyst).

Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import functions as F


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> int:
    from engine.operators import tfidf
    from engine.operators.pagerank import build_adjacency, pagerank_round
    from engine.session import build_session

    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = build_session(app_name="explain", master="local[4]", shuffle_partitions=8)

    edges = spark.createDataFrame(
        [(i % 97, (i * 7) % 97) for i in range(500)], "src long, dst long"
    )

    # -- 1. broadcast gather: the real round (the exchange-free SpMV stage) --
    ranks = spark.range(97).select("id", F.lit(1.0 / 97).alias("rank"))
    adj = build_adjacency(edges, broadcast_ranks=True)
    round_bc = pagerank_round(adj, ranks, alpha=0.85, dm=0.0)
    print("=" * 72)
    print("1. BROADCAST GATHER ROUND (pagerank broadcast_ranks=True)")
    tree = round_bc._jdf.queryExecution().executedPlan().treeString()
    live = tree.split("InMemoryRelation")[0]  # below that is the one-time cache build
    print(live)
    n_exchanges = live.count("Exchange")
    print(f">>> Exchange operators in the live path (cache-build excluded): {n_exchanges} "
          f"({'exchange-free as claimed' if n_exchanges == 0 else 'NOT exchange-free'})")
    adj.release()

    # -- 2. salted shuffle gather --
    adj = build_adjacency(edges, broadcast_ranks=False, salt_buckets=8)
    print("=" * 72)
    print("2. SALTED SHUFFLE GATHER ROUND (pagerank salt_buckets=8)")
    print(_plan(pagerank_round(adj, ranks, alpha=0.85, dm=0.0)))
    adj.release()

    # -- 3. parquet pushdown --
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    p3 = _plan(q)
    print("=" * 72)
    print("3. PARQUET SCAN PUSHDOWN")
    print(p3)
    ok = "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45" in p3.replace("\n", "")
    print(f">>> filter pushed to scan: {'yes' if 'GreaterThan(l_quantity' in p3 else 'CHECK'}; "
          f"ReadSchema pruned: {'yes' if 'l_orderkey' in p3 and 'l_comment' not in p3 else 'CHECK'}")

    # -- 4. tfidf postings: pure-Catalyst text path --
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    postings = tfidf.build_postings(docs, "doc_id", "text")
    p4 = _plan(postings)
    print("=" * 72)
    print("4. TF-IDF POSTINGS (tokenize -> TF -> DF -> weights)")
    print(p4)
    has_python = "Python" in p4 or "BatchEvalPython" in p4 or "ArrowEval" in p4
    print(f">>> Python in plan: {'YES - regression!' if has_python else 'none (pure Catalyst)'}")

    # -- 5. louvain gain round: no Python, no cartesian product --
    from engine.operators.louvain import louvain_move_rounds

    lv = louvain_move_rounds(edges, rounds=1)
    p5 = _plan(lv)
    print("=" * 72)
    print("5. LOUVAIN GAIN ROUND (broadcast mode on this input)")
    print(p5)
    print(
        f">>> Python in plan: {'YES - regression!' if 'Python' in p5 else 'none'}; "
        f"CartesianProduct: {'YES - regression!' if 'CartesianProduct' in p5 else 'none'}"
    )

    # -- 6. BPE pair counting: pure-Catalyst fold/explode path --
    from engine.operators.bpe import initial_symbols, pair_counts, word_counts

    pc = pair_counts(initial_symbols(word_counts(docs)))
    p6 = _plan(pc)
    print("=" * 72)
    print("6. BPE PAIR COUNTS (chars + '</w>' -> weighted adjacent pairs)")
    print(p6)
    has_python6 = "Python" in p6 or "ArrowEval" in p6
    print(f">>> Python in plan: {'YES - regression!' if has_python6 else 'none (pure Catalyst)'}")

    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
