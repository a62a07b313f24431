"""Plan inspection shared by the test modules: the one place that reads
Catalyst's analyzed and physical plans of a DataFrame, and counts the
Spark jobs a piece of driver code launches."""

from __future__ import annotations

import contextlib
import io


def plan_of(df, mode: str = "formatted") -> str:
    """``df.explain(mode)`` captured as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def query_execution(df) -> str:
    """The whole query execution as a string
    (``queryExecution().toString()``): every plan phase, including the
    adaptive plan's ``isFinalPlan`` flag."""
    return df._jdf.queryExecution().toString()


def executed_plan(df) -> str:
    """The physical plan's tree string (``executedPlan().toString()``)."""
    return df._jdf.queryExecution().executedPlan().toString()


def _physical_nodes(df) -> list:
    """Nodes of the executed physical plan, walked top down; an
    adaptive plan is walked through its current physical plan."""
    nodes = []
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        if node.nodeName() == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        nodes.append(node)
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return nodes


def physical_node_names(df) -> list[str]:
    """Node names of the executed physical plan, walked top down."""
    return [node.nodeName() for node in _physical_nodes(df)]


def unpartitioned_windows(df) -> list[str]:
    """``Window`` nodes of the physical plan with an empty
    ``partitionSpec()``: each pulls its whole input into one task."""
    return [
        node.simpleString(25)
        for node in _physical_nodes(df)
        if node.nodeName() == "Window" and node.partitionSpec().isEmpty()
    ]


def _analyzed_leaves(df) -> list:
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def leaf_names(df) -> list[str]:
    """Node names of the analyzed plan's leaves, in plan order."""
    return [node.nodeName() for node in _analyzed_leaves(df)]


def unmaterialized_rdd_leaves(df) -> list[str]:
    """``LogicalRDD`` leaves of the analyzed plan that are not
    checkpointed: an RDD lineage every scan re-runs, such as a
    ``createDataFrame(<list>)`` frame whose rows each scan reserializes
    in Python workers. Driver-local rows belong in ``local_frame``."""
    return [
        node.toString()
        for node in _analyzed_leaves(df)
        if node.nodeName() == "LogicalRDD"
        and not (node.rdd().isCheckpointed()
                 or node.rdd().isLocallyCheckpointed())
    ]


def jobs_launched(spark, group: str, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted under a fresh
    job group through the status tracker."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return len(sc.statusTracker().getJobIdsForGroup(group))
