"""Physical-plan inspection helpers (the engine's 'plans' surface).

The engine delegates parse/analyze/optimize/plan to Catalyst (SURVEY §3/§4);
what it owns is *plan shape*: which stages exchange, whether filters reach
the Parquet scan, and whether Python ever appears in a JVM-only path. These
helpers turn those properties into assertable facts for tests
(tests/test_plans.py) and for the human-readable dump (tools/explain_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed-plan tree string (post-AQE initial plan)."""
    return df._jdf.queryExecution().executedPlan().treeString()


def analyzed_node_count(df: DataFrame) -> int:
    """Operators in the analyzed logical plan — what Catalyst re-analyzes
    every time the frame is used."""
    return len(df._jdf.queryExecution().analyzed().treeString().splitlines())


def live_plan(df: DataFrame) -> str:
    """Plan above any InMemoryRelation — the part that re-executes per run;
    the cache-build subtree below it runs once."""
    return physical_plan(df).split("InMemoryRelation")[0]


def count_exchanges(df: DataFrame, live_only: bool = True) -> int:
    """Number of Exchange (shuffle/broadcast-exchange counts separately in
    the tree as BroadcastExchange — this counts shuffle `Exchange` nodes)."""
    plan = live_plan(df) if live_only else physical_plan(df)
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "BroadcastExchange" not in line and "ReusedExchange" not in line
    )


def has_python_eval(df: DataFrame) -> bool:
    """True if the plan crosses into Python (BatchEvalPython / ArrowEval /
    MapInPandas / FlatMapGroupsInPandas...)."""
    p = physical_plan(df)
    return any(tok in p for tok in ("Python", "ArrowEval", "InPandas"))


def pushed_filters(df: DataFrame) -> str:
    """The PushedFilters: [...] clause(s) of the scan nodes, '' if none."""
    out = []
    for line in physical_plan(df).splitlines():
        if "PushedFilters:" in line:
            out.append(line.split("PushedFilters:", 1)[1].strip().rstrip(","))
    return "; ".join(out)


def read_schema(df: DataFrame) -> str:
    """ReadSchema clause(s) of the scan nodes — column-pruning evidence."""
    out = []
    for line in physical_plan(df).splitlines():
        if "ReadSchema:" in line:
            out.append(line.split("ReadSchema:", 1)[1].strip().rstrip(","))
    return "; ".join(out)


def partition_filters(df: DataFrame) -> str:
    """PartitionFilters clause(s) of the scan nodes — evidence a predicate on
    a partition column prunes directories at planning time instead of being
    evaluated per row."""
    out = []
    for line in physical_plan(df).splitlines():
        if "PartitionFilters:" in line:
            out.append(line.split("PartitionFilters:", 1)[1].split(", PushedFilters")[0].strip().rstrip(","))
    return "; ".join(out)


def codegen_stage_count(df: DataFrame) -> int:
    """Number of WholeStageCodegen spans (wider = more fusion)."""
    import re

    # Under AQE codegen markers ("*(n)" / codegen ids) only appear once the
    # adaptive plan is finalized — i.e. after an action has run on THIS
    # DataFrame. Callers should execute first (df.collect()/count on the
    # same frame); on an unexecuted adaptive plan this returns 0.
    plan = physical_plan(df)
    ids = set(re.findall(r"\*\((\d+)\)", plan))
    ids |= set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    return len(ids)
