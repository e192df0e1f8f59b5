#!/usr/bin/env python3
"""Benchmark of the link-graph engine: one workload per invocation.

    python3 perfbench/run.py --workload pages_to_search --seed 1 --seconds 6 --trace 0

Runs from the root of a checkout. Starts a fresh session from
``engine.session.build_session`` with its defaults, setting only the master
(``local[4]``) and the shuffle-partition count, makes the workload's inputs
from ``--seed``, times the workload, checks every output against
``tests/oracle.py`` and prints, as its last line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {name: {"value", "unit"}}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` tags every layer
call with a Spark job group and reports the per-layer split (see
tracing.py). Inside the end-to-end windows both modes run the same Spark
actions; after them, the traced run of pages_to_search adds its closed-loop
search, which only per-layer metrics read. Human-readable notes go to
stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
MASTER = "local[4]"
SHUFFLE_PARTITIONS = 4
SETUP_REPS = 3  # input set-up runs per process; setup_s takes their median
CALIB_REPS = 2  # noise-control runs at the start and at the end

# every workload's timed pass runs PageRank to 1e-6 and other layers
END_TO_END = [
    ("setup_s", "s"),
    ("pagerank_s", "s"),
    ("non_pagerank_s", "s"),
]

# per-layer: the nine quantities of every traced layer call (per-call means)
LAYERS = [
    "functions.extract_pages",
    "graph.build_edges_url",
    "graph.build_nodes",
    "graph.encode_edges",
    "tfidf.build_postings_with_idf",
    "pagerank.pagerank",
    "tfidf.search_api",
    "components.connected_components",
    "scc.strongly_connected_components",
    "labelprop.label_propagation",
    "triangles.triangle_count",
]
QUANTITY_UNITS = {
    "wall_s": "s", "driver_s": "s", "exec_cpu_s": "s", "gc_s": "s",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "jobs": "count", "stages": "count", "rows": "count",
}
EXTRA = [
    ("datagen.generate.wall_s", "s", "lower"),
    ("datagen.generate.rows", "count", "higher"),
    ("session.build_session.wall_s", "s", "lower"),
    ("pagerank.pagerank.iterations", "count", "lower"),
    ("pagerank.pagerank.round_ms", "ms", "lower"),
    ("pagerank.pagerank.round_driver_s", "s", "lower"),
    ("pagerank.pagerank.edges_per_s_iter", "edges/s", "higher"),
    ("tfidf.search_api.p50_ms", "ms", "lower"),
    ("tfidf.search_api.p90_ms", "ms", "lower"),
    ("tfidf.search_api.qps", "1/s", "higher"),
    ("tfidf.search_api.plan_ms", "ms", "lower"),
    ("tfidf.search_api.exec_ms", "ms", "lower"),
    ("tfidf.search_api.queries", "count", "higher"),
    ("host.calib_s", "s", "lower"),
    ("host.trace_s", "s", "lower"),
    ("host.error_rate", "ratio", "lower"),
    # summed VmHWM of the driver JVM and its Python processes; it moved by
    # more than a tenth between runs of one workload, so it is not gated
    ("host.peak_rss_mb", "MB", "lower"),
    # the traced run's own end-to-end figures: traced minus untraced is
    # the tracing overhead
    *((f"host.traced.{name}", unit, "lower") for name, unit in END_TO_END),
]


def per_layer_spec() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric, in print order."""
    spec = [
        (f"{layer}.{q}", unit, "higher" if q == "rows" else "lower")
        for layer in LAYERS
        for q, unit in QUANTITY_UNITS.items()
    ]
    return spec + EXTRA


def process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def isolate(work: Path) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`, and
    let the Python workers import the engine from this checkout."""
    for sub in ("spark-local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData' pyspark-shell"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [str(ROOT), str(ROOT / "tests")]


def calibrate(spark) -> float:
    """Fixed pure-JVM work (a sum of xxhash64 residues over spark.range): the noise
    control, never gated."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 4_000_000, 1, 4).select(F.pmod(F.xxhash64("id"), F.lit(1 << 20)).alias("h")).agg(F.sum("h")).collect()
    return time.perf_counter() - t0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="input size; tiny is the self-test size")
    args = ap.parse_args(argv)

    work = ROOT / "perfbench" / ".work" / f"{args.workload}-{os.getpid()}"
    isolate(work)
    try:
        return bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def bench(args, work: Path) -> int:
    from engine.session import build_session
    from tracing import Tracer, peak_rss_mb, stop_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    t0 = time.perf_counter()
    spark = build_session(app_name="perfbench", master=MASTER, shuffle_partitions=SHUFFLE_PARTITIONS)
    session_s = time.perf_counter() - t0
    startup_s = process_age_s()
    tracer = Tracer(spark, enabled=bool(args.trace))
    wl = WORKLOADS[args.workload](spark, tracer, args.seed, args.scale, str(work))

    result, calib, phases = {}, [], {}
    setup_reps = []
    try:
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup()
            setup_reps.append(time.perf_counter() - t0)
        calib += [calibrate(spark) for _ in range(CALIB_REPS)]
        result = wl.run(args.seconds, serve=bool(args.trace))
        calib += [calibrate(spark) for _ in range(CALIB_REPS)]
        rss = peak_rss_mb()
        t0 = time.perf_counter()
        wl.verify()
        phases["verify_s"] = time.perf_counter() - t0
    except Exception:  # a failed run still reports, with correct=false
        traceback.print_exc()
        wl.ops.attempt()
        wl.ops.fail("run", "raised")
        rss = peak_rss_mb()
    finally:
        t0 = time.perf_counter()
        stop_spark(spark)
        phases["stop_s"] = time.perf_counter() - t0

    e2e = {
        "setup_s": startup_s + (statistics.median(setup_reps) if setup_reps else 0.0),
        "pagerank_s": result.get("pagerank_s", 0.0),
        "non_pagerank_s": result.get("non_pagerank_s", 0.0),
    }
    ops = wl.ops
    for op, why in ops.failed:
        print(f"FAILED {op}: {why}", file=sys.stderr)
    print(
        f"{args.workload} seed={args.seed} trace={args.trace}: "
        + " ".join(f"{k}={v:.4g}" for k, v in e2e.items())
        + f" peak_rss_mb={rss:.4g} calib_s={statistics.median(calib) if calib else 0:.4g}"
        + f" error_rate={len(ops.failed)}/{ops.attempted}"
        + "".join(f" {k}={v:.3g}" for k, v in phases.items()),
        file=sys.stderr,
    )
    for layer, rec in tracer.layers.items():
        print(f"  {layer}: {rec['wall_s']:.3f} s over {tracer.calls[layer]} call(s)", file=sys.stderr)
    for k, v in result.get("extra", {}).items():
        print(f"  {k} = {v:.6g}", file=sys.stderr)

    if args.trace:
        values = {}
        for layer in LAYERS:
            calls = tracer.calls.get(layer, 0)
            for q in QUANTITY_UNITS:
                values[f"{layer}.{q}"] = tracer.layers[layer][q] / calls if calls else 0.0
        pr = tracer.layers["pagerank.pagerank"]
        extra = result.get("extra", {})
        iters = extra.get("pagerank.pagerank.iterations", 0)
        pr_calls = tracer.calls.get("pagerank.pagerank", 0)
        dg_calls = tracer.calls.get("datagen.generate", 0) or 1
        values.update(extra)
        values.update({
            "datagen.generate.wall_s": tracer.layers["datagen.generate"]["wall_s"] / dg_calls,
            "datagen.generate.rows": tracer.layers["datagen.generate"]["rows"] / dg_calls,
            "session.build_session.wall_s": session_s,
            "pagerank.pagerank.round_driver_s": pr["driver_s"] / pr_calls / iters if pr_calls and iters else 0.0,
            "host.calib_s": statistics.median(calib) if calib else 0.0,
            "host.trace_s": tracer.overhead_s,
            "host.error_rate": len(ops.failed) / max(1, ops.attempted),
            "host.peak_rss_mb": rss,
            **{f"host.traced.{name}": v for name, v in e2e.items()},
        })
        metrics = {n: {"value": values.get(n, 0.0), "unit": u} for n, u, _ in per_layer_spec()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}

    print(json.dumps({
        "correct": not ops.failed,
        "attempted": max(1, ops.attempted),
        "failed": len(ops.failed),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
