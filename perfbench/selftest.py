#!/usr/bin/env python3
"""Self-test of the benchmark at the tiny input size.

    python3 perfbench/selftest.py [--scale tiny|full] [--seed N]

For every workload it runs ``run.py`` untraced once and traced twice on one
seed, and checks that:

- each run exits 0 and ends with the result object, with verification run
  and passed (``correct`` true, ``failed`` 0);
- the untraced run prints exactly the end-to-end metrics of BENCHMARK.json
  and the traced run exactly its per-layer metrics, each with its unit.

It then prints the tracing overhead (the traced run's end-to-end figures
minus the untraced run's) and which per-layer counts repeat exactly between
the two traced runs. Exits 1 if any check fails.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
COUNTS = ("jobs", "stages", "rows", "shuffle_write_bytes")


def run(workload: str, seed: int, trace: int, scale: str) -> dict:
    cmd = [
        sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", "2", "--trace", str(trace), "--scale", scale,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check(res: dict, spec: list[dict], label: str) -> list[str]:
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{label}: result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errs.append(f"{label}: verification did not pass: {({k: res.get(k) for k in ('correct', 'attempted', 'failed')})}")
    want = {m["name"]: m["unit"] for m in spec}
    got = {k: v.get("unit") for k, v in res.get("metrics", {}).items()}
    if got != want:
        missing = sorted(set(want) - set(got))
        extra = sorted(set(got) - set(want))
        wrong = sorted(k for k in set(want) & set(got) if want[k] != got[k])
        errs.append(f"{label}: metrics differ (missing {missing}, extra {extra}, wrong unit {wrong})")
    for k, v in res.get("metrics", {}).items():
        if not isinstance(v.get("value"), (int, float)):
            errs.append(f"{label}: {k} has no numeric value")
    return errs


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--scale", choices=("tiny", "full"), default="tiny")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    errs: list[str] = []
    for wl in (w["name"] for w in bench["workloads"]):
        plain = run(wl, args.seed, 0, args.scale)
        traced = [run(wl, args.seed, 1, args.scale) for _ in range(2)]
        errs += check(plain, bench["end_to_end"], f"{wl} untraced")
        for i, res in enumerate(traced):
            errs += check(res, bench["per_layer"], f"{wl} traced #{i + 1}")

        print(f"== {wl} (seed {args.seed}, scale {args.scale})")
        for m in bench["end_to_end"]:
            name = m["name"]
            traced_v = traced[0]["metrics"].get(f"host.traced.{name}", {}).get("value")
            if traced_v is None:
                continue
            plain_v = plain["metrics"][name]["value"]
            print(f"  tracing overhead {name}: {traced_v - plain_v:+.3f} {m['unit']} "
                  f"(traced {traced_v:.3f}, untraced {plain_v:.3f})")
        print(f"  tracer read-back: {traced[0]['metrics']['host.trace_s']['value']:.3f} s")
        a, b = (t["metrics"] for t in traced)
        exact, varies = [], []
        for name in sorted(a):
            if name.rsplit(".", 1)[-1] in COUNTS and a[name]["value"]:
                (exact if a[name]["value"] == b[name]["value"] else varies).append(name)
        print(f"  counts repeating exactly: {len(exact)}")
        for name in exact:
            print(f"    {name} = {a[name]['value']:g}")
        print(f"  counts that vary: {len(varies)}")
        for name in varies:
            print(f"    {name}: {a[name]['value']:g} vs {b[name]['value']:g}")

    for e in errs:
        print("FAIL", e)
    print("self-test", "FAILED" if errs else "passed")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
