"""The benchmark's workloads: seeded inputs, timed layer calls, verification.

Each workload is a class with three steps, run in this order by run.py:

- ``setup()`` makes the seeded inputs (and caches them); run.py times it
  several times and reports the median as part of ``setup_s``;
- ``run()`` is the timed pass: every engine call sits in a tracer span
  named ``<module>.<function>``. It reports the PageRank call and the
  rest of the pass apart;
- ``verify()`` checks the outputs against ``tests/oracle.py``, outside every
  timed window. A failed check marks its operation failed.

Inputs depend only on the seed. The program sees only the generated inputs.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import time
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import oracle
from engine import datagen
from engine.operators import graph, tfidf
from engine.operators.components import connected_components
from engine.operators.labelprop import label_propagation
from engine.operators.pagerank import pagerank
from engine.operators.scc import strongly_connected_components
from engine.operators.triangles import triangle_count

# input sizes. "tiny" is the self-test size (selftest.py).
SCALES = {
    "full": {"pages": 300, "edges": 12_000, "nodes": 1_200},
    "tiny": {"pages": 60, "edges": 600, "nodes": 80},
}
TOL = 1e-6  # PageRank tolerance in both graph workloads
LP_ROUNDS = 5
TOP_K = 10


class Ops:
    """Attempted and failed operations: every timed engine call, every
    search query. An operation fails if it raises or its output fails a
    check."""

    def __init__(self):
        self.attempted = 0
        self.failed: list[tuple[str, str]] = []

    def attempt(self, n: int = 1) -> None:
        self.attempted += n

    def fail(self, op: str, why: str) -> None:
        self.failed.append((op, why))


class PagesToSearch:
    """Raw pages → extraction → URL edges → node ids → encoded edges →
    postings → PageRank to 1e-6 → ranked (id, url, score) table; in
    traced runs a closed-loop client then sends seeded queries to
    ``tfidf.search_api`` for the run's measuring window."""

    name = "pages_to_search"

    def __init__(self, spark, tracer, seed: int, scale: str, work_dir: str):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.n_pages = SCALES[scale]["pages"]
        self.path = os.path.join(work_dir, "pages.parquet")
        self.ops = Ops()
        self.queries: list[tuple[str, list]] = []  # (query, collected rows)
        self.latencies_ms: list[float] = []
        self.plan_ms: list[float] = []
        self.exec_ms: list[float] = []

    def setup(self) -> None:
        """Generate the seeded pages table with engine.datagen and write it
        to Parquet (driver-side; the timed run reads it back)."""
        with self.tr.span("datagen.generate") as sp:
            specs = [datagen.page_spec(i, self.n_pages, self.seed) for i in range(self.n_pages)]
            table = pa.table({
                "url": [s["url"] for s in specs],
                "warc_ts": pa.array([s["warc_ts"] for s in specs], pa.timestamp("us", tz="UTC")),
                "html": [s["html"].encode("utf-8") for s in specs],
                "text": [s["expected_text"] for s in specs],
                "lang": [s["lang"] for s in specs],
            })
            pq.write_table(table, self.path)
            sp.rows = len(specs)
        self.expected_text = {s["url"]: s["expected_text"] for s in specs}
        self._query_pool(specs)

    def _query_pool(self, specs) -> None:
        """Query terms by document frequency in the planted text: common
        terms (the upper half by df), rare terms (the lowest tenth) and
        terms absent from every page (the zero-hit path)."""
        df = Counter()
        for s in specs:
            df.update(set(oracle.tokenize_py(s["expected_text"])))
        by_df = [t for t, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))]
        self.common = by_df[: max(1, len(by_df) // 2)]
        self.rare = by_df[-max(1, len(by_df) // 10):]

    def query_stream(self):
        """Seeded queries of 1-4 terms: half common, a third rare, the rest
        absent."""
        rng = random.Random(self.seed * 7919 + 1)
        while True:
            terms = []
            for _ in range(rng.randint(1, 4)):
                u = rng.random()
                if u < 0.5:
                    terms.append(rng.choice(self.common))
                elif u < 0.83:
                    terms.append(rng.choice(self.rare))
                else:
                    terms.append(f"absent{rng.randrange(10_000)}")
            yield " ".join(terms)

    def build(self) -> float:
        """Parquet pages → extracted pages, URL edges, node ids, encoded
        edges and postings, each materialized. Returns the seconds taken."""
        spark, tr, walls = self.spark, self.tr, []
        pages = spark.read.parquet(self.path)
        with tr.span("functions.extract_pages") as sp:
            self.extracted = graph.extract_pages(pages).persist()
            sp.rows = self.extracted.count()
        walls.append(sp.wall_s)
        with tr.span("graph.build_edges_url") as sp:
            self.edges_url = graph.build_edges_url(
                self.extracted, base_domain=datagen.BASE_DOMAIN
            ).persist()
            sp.rows = self.edges_url.count()
        walls.append(sp.wall_s)
        with tr.span("graph.build_nodes") as sp:
            self.nodes = graph.build_nodes(pages.select("url"), self.edges_url).persist()
            sp.rows = self.nodes.count()
        walls.append(sp.wall_s)
        with tr.span("graph.encode_edges") as sp:
            self.edges = graph.encode_edges(self.edges_url, self.nodes).persist()
            sp.rows = self.edges.count()
        walls.append(sp.wall_s)
        with tr.span("tfidf.build_postings_with_idf") as sp:
            postings, idf, _ = tfidf.build_postings_with_idf(self.extracted)
            self.postings, self.idf = postings.persist(), idf.persist()
            sp.rows = self.postings.count() + self.idf.count()
        walls.append(sp.wall_s)
        self.ops.attempt(len(walls))
        return sum(walls)

    def rank(self) -> float:
        """PageRank to 1e-6 over the node universe plus the ranked
        (id, url, score) table, materialized (the pipeline job's
        pagerank.json analog)."""
        with self.tr.span("pagerank.pagerank") as sp:
            self.pr = pagerank(self.edges, nodes=self.nodes.select("id"), tol=TOL)
            self.ranked = (
                self.pr.ranks.join(self.nodes, "id")
                .select("id", "url", F.col("rank").alias("score"))
                .orderBy(F.desc("score"), F.asc("id"))
                .persist()
            )
            sp.rows = self.ranked.count()
        self.ops.attempt()
        return sp.wall_s

    def _search(self, query: str):
        """One closed-loop request: plan (the call itself, which runs the
        driver-side idf lookup job) then execute (the collect)."""
        with self.tr.span("tfidf.search_api") as sp:
            t0 = time.perf_counter()
            df = tfidf.search_api(self.postings, self.idf, self.scores, self.docs, query, top_k=TOP_K)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
            sp.rows = len(rows)
        return rows, (t1 - t0) * 1e3, (t2 - t1) * 1e3

    def warm_up(self) -> None:
        """The serving side's first query compiles its plan shapes; it is
        set-up, left out of the latencies."""
        self.docs = self.extracted.select("url", "text")
        self.scores = self.ranked.select("url", "score")
        self._stream = self.query_stream()
        q = next(self._stream)
        self.warm = (q, self._search(q)[0])
        self.ops.attempt()

    def serve(self, seconds: float) -> None:
        """Closed loop: send the next query only after the previous one
        returned, until `seconds` have passed."""
        end = time.perf_counter() + seconds
        while time.perf_counter() < end:
            q = next(self._stream)
            t0 = time.perf_counter()
            rows, plan, exe = self._search(q)
            self.latencies_ms.append((time.perf_counter() - t0) * 1e3)
            self.plan_ms.append(plan)
            self.exec_ms.append(exe)
            self.queries.append((q, rows))
            self.ops.attempt()

    def run(self, seconds: float, serve: bool) -> dict:
        """Build and rank (the end-to-end windows); then, in traced runs
        only, the closed-loop search. No end-to-end metric reads the
        search, so untraced runs leave it out; it starts after every
        end-to-end window has closed."""
        out = {"non_pagerank_s": self.build(), "pagerank_s": self.rank(), "extra": _pagerank_extra(self.pr)}
        if serve:
            self.warm_up()
            self.serve(seconds)
            lat = sorted(self.latencies_ms)
            out["extra"].update({
                "tfidf.search_api.p50_ms": _pct(lat, 0.5),
                "tfidf.search_api.p90_ms": _pct(lat, 0.9),
                "tfidf.search_api.qps": len(lat) / (sum(lat) / 1e3) if lat else 0.0,
                "tfidf.search_api.plan_ms": statistics.median(self.plan_ms) if lat else 0.0,
                "tfidf.search_api.exec_ms": statistics.median(self.exec_ms) if lat else 0.0,
                "tfidf.search_api.queries": len(lat),
            })
        return out

    def verify(self) -> None:
        ops = self.ops
        got = dict(self.extracted.select("url", "text").collect())
        bad = [u for u, t in self.expected_text.items() if got.get(u) != t]
        if bad or len(got) != len(self.expected_text):
            ops.fail("functions.extract_pages", f"{len(bad)} pages differ from the planted text")

        n = self.pr.num_nodes
        edges = [tuple(r) for r in self.edges.select("src", "dst").collect()]
        ranked = self.ranked.collect()
        _check_pagerank(ops, {r["id"]: r["score"] for r in ranked}, edges, n)

        if not hasattr(self, "warm"):  # no search was served
            return
        docs = {r["url"]: r["text"] for r in self.docs.collect()}
        scores = {r["url"]: r["score"] for r in ranked}
        expect = _SearchOracle(docs, scores)
        for q, rows in [self.warm, *self.queries]:
            want = expect.top_k(q, TOP_K)
            got_rows = [(r["url"], r["combined_score"]) for r in rows]
            if [u for u, _ in got_rows] != [u for u, _ in want] or not np.allclose(
                [s for _, s in got_rows], [s for _, s in want], rtol=0, atol=1e-9
            ):
                ops.fail("tfidf.search_api", f"top-{TOP_K} differs from the oracle for {q!r}")


class _SearchOracle:
    """tests/oracle.tfidf_weights_py combined with min-max-normalized
    PageRank, in search_api's order: top 3k by cosine, then top k by
    0.8·tfidf + 0.2·pr_norm; ties broken by url. Scores are compared after
    rounding to 1e-9 so sums taken in another order cannot reorder a tie."""

    def __init__(self, docs: dict, pr: dict):
        self.docs = docs
        self.inverted, self.norms, self.idf = oracle.tfidf_weights_py(docs)
        lo, hi = min(pr.values()), max(pr.values())
        span = hi - lo if hi > lo else 1.0
        self.pr_norm = {u: (s - lo) / span for u, s in pr.items()}

    def top_k(self, query: str, k: int) -> list[tuple[str, float]]:
        q_tf = Counter(oracle.tokenize_py(query))
        q_w = {t: f * self.idf[t] for t, f in q_tf.items() if t in self.idf}
        if not q_w:
            return []
        q_norm = math.sqrt(sum(w * w for w in q_w.values())) or 1.0
        dots = Counter()
        for t, w in q_w.items():
            for d, dw in self.inverted[t].items():
                dots[d] += w * dw
        cos = {d: dot / (q_norm * self.norms[d]) for d, dot in dots.items()}
        hits = sorted(cos, key=lambda d: (-round(cos[d], 9), d))[: 3 * k]
        comb = {d: 0.8 * cos[d] + 0.2 * self.pr_norm.get(d, 0.0) for d in hits if d in self.docs}
        best = sorted(comb, key=lambda d: (-round(comb[d], 9), d))[:k]
        return [(d, comb[d]) for d in best]


class GraphZipf:
    """A seeded Zipf edge table (sources uniform, destinations u³ toward
    hub ids, self-loops dropped) cached in setup; the timed run is
    PageRank to 1e-6, connected components, strongly connected
    components, label propagation (5 rounds) and the triangle count."""

    name = "graph_zipf"

    def __init__(self, spark, tracer, seed: int, scale: str, work_dir: str):
        self.spark, self.tr, self.seed = spark, tracer, seed
        self.m, self.n = SCALES[scale]["edges"], SCALES[scale]["nodes"]
        self.ops = Ops()
        self.edges = None

    def setup(self) -> None:
        """The BENCH/run_bench.py generator: pure xxhash64 column
        expressions, hash seeds taken from the benchmark seed."""
        if self.edges is not None:
            self.edges.unpersist()
        with self.tr.span("datagen.generate") as sp:
            ids = self.spark.range(0, self.m, 1, 4)
            u_src = F.pmod(F.xxhash64("id", F.lit(self.seed * 1000 + 17)), F.lit(1 << 30)) / float(1 << 30)
            u_dst = F.pmod(F.xxhash64("id", F.lit(self.seed * 1000 + 23)), F.lit(1 << 30)) / float(1 << 30)
            self.edges = (
                ids.select(
                    F.floor(u_src * self.n).cast("long").alias("src"),
                    F.floor(F.pow(u_dst, F.lit(3.0)) * self.n).cast("long").alias("dst"),
                )
                .filter(F.col("src") != F.col("dst"))
                .persist()
            )
            sp.rows = self.edges.count()

    def run(self, seconds: float, serve: bool) -> dict:
        """One pass over the five kernels; passes repeat until `seconds`
        have passed, and the medians are reported. There is no search side
        to serve."""
        pr_walls, kern_walls = [], []
        end = time.perf_counter() + seconds
        while not pr_walls or time.perf_counter() < end:
            pr_s, kern_s = self._pass()
            pr_walls.append(pr_s)
            kern_walls.append(kern_s)
        return {
            "pagerank_s": statistics.median(pr_walls),
            "non_pagerank_s": statistics.median(kern_walls),
            "extra": _pagerank_extra(self.pr),
        }

    def _pass(self) -> tuple[float, float]:
        tr, e = self.tr, self.edges
        for df in (getattr(self, a, None) for a in ("ranks", "cc", "scc", "lp")):
            if df is not None:  # the previous pass's outputs
                df.unpersist()
        with tr.span("pagerank.pagerank") as sp:
            self.pr = pagerank(e, tol=TOL)
            self.ranks = self.pr.ranks.persist()
            sp.rows = self.ranks.count()
        pr_s, kern_s = sp.wall_s, 0.0
        with tr.span("components.connected_components") as sp:
            self.cc = connected_components(e).persist()
            sp.rows = self.cc.count()
        kern_s += sp.wall_s
        with tr.span("scc.strongly_connected_components") as sp:
            self.scc = strongly_connected_components(e).persist()
            sp.rows = self.scc.count()
        kern_s += sp.wall_s
        with tr.span("labelprop.label_propagation") as sp:
            self.lp = label_propagation(e, max_iter=LP_ROUNDS).persist()
            sp.rows = self.lp.count()
        kern_s += sp.wall_s
        with tr.span("triangles.triangle_count") as sp:
            self.tri = triangle_count(e).collect()[0]["triangles"]
            sp.rows = 1
        kern_s += sp.wall_s
        self.ops.attempt(5)
        return pr_s, kern_s

    def verify(self) -> None:
        ops = self.ops
        edges = [tuple(r) for r in self.edges.collect()]
        n = max(max(u, v) for u, v in edges) + 1
        _check_pagerank(ops, dict(self.ranks.collect()), edges, n)
        checks = [
            ("components.connected_components", self.cc, oracle.connected_components_py(edges)),
            ("scc.strongly_connected_components", self.scc, oracle.scc_py(edges)),
            ("labelprop.label_propagation", self.lp, oracle.label_propagation_py(edges, max_iter=LP_ROUNDS)),
        ]
        for op, df, want in checks:
            if dict(df.collect()) != want:
                ops.fail(op, "labels differ from the oracle")
        if self.tri != oracle.triangle_count_py(edges):
            ops.fail("triangles.triangle_count", "total differs from the oracle")


def _check_pagerank(ops: Ops, got: dict, edges: list, n: int) -> None:
    """Σ rank = 1 and allclose 1e-6 to the NumPy reference recurrence."""
    want, _, _ = oracle.pagerank_numpy(edges, n=n, tol=TOL)
    vec = np.array([got.get(i, np.nan) for i in range(n)])
    if len(got) != n or abs(vec.sum() - 1.0) > 1e-9 or not np.allclose(vec, want, rtol=0, atol=1e-6):
        ops.fail("pagerank.pagerank", "ranks differ from the oracle")


def _pagerank_extra(pr) -> dict:
    rounds = [m["wall_sec"] for m in pr.metrics]  # the engine's per-round walls
    return {
        "pagerank.pagerank.iterations": pr.iterations,
        "pagerank.pagerank.round_ms": statistics.median(rounds) * 1e3,
        # bench.py's throughput: edges x iterations / loop wall
        "pagerank.pagerank.edges_per_s_iter": pr.num_edges * pr.iterations / sum(rounds),
    }


def _pct(sorted_vals: list, q: float) -> float:
    """Nearest-rank percentile of an ascending list (0 if empty)."""
    if not sorted_vals:
        return 0.0
    return sorted_vals[min(len(sorted_vals) - 1, max(0, math.ceil(q * len(sorted_vals)) - 1))]


WORKLOADS = {w.name: w for w in (PagesToSearch, GraphZipf)}
