"""Physical-plan inspection helpers — used by tests to assert the plan we
designed for is the plan Catalyst produced (filter pushdown reached the
parquet scan, small dims went broadcast, codegen spans exist). This is the
"plan-shape discipline" of SURVEY.md §4: we write no Catalyst rules, we
verify the built-ins fired.
"""

from __future__ import annotations

import io
import re
import uuid
from contextlib import redirect_stdout

from pyspark.sql import DataFrame


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def spark_jobs(spark, fn) -> int:
    """Spark jobs ``fn()`` runs, counted by the status tracker on a job
    group of its own."""
    sc = spark.sparkContext
    group = f"count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def executed_plans(spark, fn) -> list[str]:
    """Run ``fn()`` and return the physical plan of every SQL execution it
    ran, oldest first, in ``explain(mode="simple")`` form (an adaptive
    plan's final plan only). For operators that evaluate at call time and
    return a local relation (the vector searches), the returned frame's own
    plan is a ``LocalTableScan``; the plan that read the data is the one
    they executed. Plans come from the session's SQL status store once the
    listener bus has drained."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_id() -> int:
        bus.waitUntilEmpty()
        n = store.executionsCount()
        return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    prev = spark.conf.get("spark.sql.ui.explainMode")
    start = last_id()
    spark.conf.set("spark.sql.ui.explainMode", "extended")
    try:
        fn()
    finally:
        spark.conf.set("spark.sql.ui.explainMode", prev)
    plans = []
    for i in range(start + 1, last_id() + 1):
        ex = store.execution(i)
        if ex.isDefined():
            desc = ex.get().physicalPlanDescription()
            plans.append(desc.split("== Physical Plan ==")[-1].split("== Initial Plan ==")[0])
    return plans


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters entries from the formatted plan's scan nodes."""
    plan = explain_str(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[(.*?)\]", plan):
        inner = m.group(1).strip()
        if inner:
            out.extend(s.strip() for s in inner.split(","))
    return out


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in explain_str(df) or "BroadcastNestedLoopJoin" in explain_str(df)


def has_wholestage_codegen(df: DataFrame) -> bool:
    # under AQE the physical plan is not final pre-execution and codegen
    # mode reports 0 subtrees; plan with AQE off (physical planning happens
    # at explain time, so toggling the conf around the call is enough)
    spark = df.sparkSession
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        out = explain_str(df, mode="codegen")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
    m = re.search(r"Found (\d+) WholeStageCodegen subtrees", out)
    return bool(m and int(m.group(1)) > 0)


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema column lists from scan nodes — verifies column pruning."""
    plan = explain_str(df)
    return re.findall(r"ReadSchema: (\S+)", plan)
