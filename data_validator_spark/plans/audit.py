"""Physical-plan introspection: the properties worth asserting before
trusting a plan at 100 TB. Used by tests/test_plans.py and handy
interactively (`print(audit(df))`)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def execute_to_final_plan(df: DataFrame) -> str:
    """Run the DataFrame's OWN QueryExecution to completion and return
    the finalized AQE plan string (``isFinalPlan=true``), trimmed to
    the final-plan section.

    A sink action (``df.write...save()``) plans the write under a NEW
    QueryExecution, so ``df._jdf.queryExecution().executedPlan()``
    afterwards still prints the un-executed initial plan (ADVICE r11 —
    verified on Spark 4.1.2). Executing the physical plan's RDD
    directly drives THIS QueryExecution's AdaptiveSparkPlanExec
    through all its query stages; the ``count()`` action materializes
    every partition while moving only one long to the driver (no row
    collect)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan().execute().count()
    plan = qe.executedPlan().toString()
    cut = plan.find("== Initial Plan ==")
    return plan[:cut] if cut != -1 else plan


def prune_cached_subtrees(plan: str) -> str:
    """Drop the re-printed build plan under every cached-relation node
    of an (already obtained) plan string.

    Spark reprints the FULL cached build plan under each
    InMemoryTableScan/InMemoryRelation reference, so operator counts
    over the raw string charge a persisted relation's one-time build
    to every consumer — a 3-iteration pagerank over a persisted edge
    relation reads as hundreds of scans/exchanges when its runtime
    cost per iteration is zero of each (r11: the PLANS.md scorecard
    counts live operators only). The cache node line itself is kept,
    so cached references stay visible and countable."""
    out: list[str] = []
    skip_depth: int | None = None
    for ln in plan.splitlines():
        stripped = ln.lstrip(" :+-")
        depth = len(ln) - len(stripped)
        if skip_depth is not None:
            if depth > skip_depth:
                continue
            skip_depth = None
        if "InMemoryTableScan" in ln or "InMemoryRelation" in ln:
            out.append(ln)
            skip_depth = depth
            continue
        out.append(ln)
    return "\n".join(out)


def exchange_count(df: DataFrame) -> int:
    return plan_string(df).count("Exchange")


def audit(df: DataFrame) -> dict[str, object]:
    plan = plan_string(df)
    return {
        "scans": plan.count("FileScan"),
        "exchanges": plan.count("Exchange"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sortmerge_joins": plan.count("SortMergeJoin"),
        "cartesian": "CartesianProduct" in plan,
        "python_stages": plan.count("ArrowEvalPython") + plan.count("BatchEvalPython"),
        "read_schemas": [
            seg[: seg.index(">") + 1] if ">" in seg[:400] else seg[:120]
            for seg in plan.split("ReadSchema: ")[1:]
        ],
    }
