"""Per-call counts read from public Spark APIs: the executed plan's SQL
metrics and the status tracker's view of a job group. Used only by the
traced run."""

from __future__ import annotations

from collections import Counter


def _children(node) -> list:
    kids = [node.children().apply(i) for i in range(node.children().size())]
    if kids:
        return kids
    # adaptive plans and query stages hang their executed subtree off
    # a leaf node instead of children()
    for meth in ("finalPhysicalPlan", "plan", "child"):
        try:
            return [getattr(node, meth)()]
        except Exception:  # py4j: the node has no such accessor
            continue
    return []


def plan_metrics(df) -> Counter:
    """Summed SQL metrics of ``df``'s executed plan, after its action:
    scan rows/bytes/files, shuffle, spill and broadcast bytes, and the
    output rows of join nodes."""
    out: Counter = Counter()
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        vals = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[str(kv._1())] = int(kv._2().value())
        if name.startswith("Scan"):
            out["scan_rows"] += vals.get("numOutputRows", 0)
            out["scan_bytes"] += vals.get("filesSize", 0)
            out["scan_files"] += vals.get("numFiles", 0)
        elif name == "Exchange":
            out["shuffle_bytes"] += vals.get("shuffleBytesWritten", 0)
        elif name == "BroadcastExchange":
            out["broadcast_bytes"] += vals.get("dataSize", 0)
        if "Join" in name or name == "CartesianProduct":
            out["join_rows"] += vals.get("numOutputRows", 0)
        out["spill_bytes"] += vals.get("spillSize", 0)
        stack.extend(_children(node))
    return out


def job_group_stats(sc, group: str) -> Counter:
    """Jobs, stages and failed tasks Spark ran under one job group."""
    out: Counter = Counter()
    tracker = sc.statusTracker()
    for job_id in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else ():
            out["stages"] += 1
            st = tracker.getStageInfo(stage_id)
            if st is not None:
                out["failed_tasks"] += st.numFailedTasks
    return out
